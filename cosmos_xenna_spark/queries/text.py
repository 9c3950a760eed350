"""Text-analysis queries with DuckDB oracles (quality stats, language
ID, token counting, fingerprints)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.text import (
    NORMALIZE_SQL_TMPL,
    normalize_text,
    vocab_coverage,
    vocab_coverage_sql,
    LANG_MARKERS,
    STOPWORDS,
    TOKEN_REGEX,
    bpe_token_count_col,
    digit_count_col,
    doc_fingerprint,
    langid_col,
    n_tokens_col,
    punct_count_col,
    stopword_count_col,
)
from cosmos_xenna_spark.functions import md5_long63_sql
from cosmos_xenna_spark.operators.urls import with_normalized_urls_sql
from cosmos_xenna_spark.queries import register

_SW = ",".join(f"'{w}'" for w in STOPWORDS)


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
                AS DOUBLE) / length(text) AS punct_ratio,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS DOUBLE) / length(text) AS digit_ratio,
           CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_SW})))
                AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
    description="per-document quality stats: token counts, punct/digit/"
    "stopword ratios (LLM-data quality scoring)",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = n_tokens_col()
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_m"),
        n_tok.cast("bigint").alias("n_tokens"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tok).alias(
            "avg_token_len"
        ),
        (punct_count_col().cast("double") / F.length("text")).alias("punct_ratio"),
        (digit_count_col().cast("double") / F.length("text")).alias("digit_ratio"),
        (stopword_count_col().cast("double") / n_tok).alias("stopword_ratio"),
    )


def _langid_expr_sql() -> str:
    """The DuckDB argmax-with-lang-code-tiebreak expression mirroring
    operators.text.langid_col (fold over languages in sorted order,
    strict > keeps the earlier)."""
    score_of = {
        lang: f"len(list_filter(string_split(text, ' '), w -> w IN ({', '.join(map(repr, ms))})))"
        for lang, ms in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    best_score = score_of[langs[0]]
    best_lang = f"'{langs[0]}'"
    for lang in langs[1:]:
        s = score_of[lang]
        new_best_lang = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        new_best_score = (
            f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
        )
        best_lang, best_score = new_best_lang, new_best_score
    return best_lang


def _langid_sql() -> str:
    best_lang = _langid_expr_sql()
    return f"""
    SELECT doc_id, lang AS labeled_lang, {best_lang} AS guessed_lang,
           CAST(lang = {best_lang} AS BOOLEAN) AS agree
    FROM documents
    """


@register(
    "q_langid",
    oracle=_langid_sql(),
    description="language-ID heuristic: marker-word argmax with deterministic "
    "tiebreak (plumbing for an n-gram profile model)",
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    guess = langid_col()
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        guess.alias("guessed_lang"),
        (F.col("lang") == guess).alias("agree"),
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT) AS bpe_tokens,
           CAST(SUM(length(text)) AS DOUBLE)
             / SUM(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
    description="token counting per language: whitespace vs BPE-ish regex "
    "tokenizer + chars-per-token",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens_col()).alias("ws_tokens"),
        F.sum(bpe_token_count_col()).alias("bpe_tokens"),
        (F.sum(F.length("text")).cast("double") / F.sum(bpe_token_count_col())).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws) - 2)) AS t(i)
    )
    SELECT doc_id,
           MIN(CAST(CONCAT('0x', substr(md5(sh), 1, 15)) AS BIGINT)) AS fingerprint,
           COUNT(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
    description="document fingerprint: min 63-bit hash over word 4-grams "
    "(winnowing-style rolling fingerprint)",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return doc_fingerprint(docs, "text", k=4)


@register(
    "q_train_val_test_split",
    oracle=f"""
    SELECT split, lang, COUNT(*) AS n FROM (
      SELECT lang,
             CASE WHEN {md5_long63_sql("CAST(doc_id AS VARCHAR)", "split:")} % 100 < 80 THEN 'train'
                  WHEN {md5_long63_sql("CAST(doc_id AS VARCHAR)", "split:")} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split, lang
    """,
    description="deterministic 80/10/10 train/val/test split by portable "
    "hash (stable across runs/engines/partitionings; no rand())",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.text import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_split(docs).groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_normalize_text",
    oracle=(
        "SELECT doc_id, "
        + NORMALIZE_SQL_TMPL.format(col="text")
        + " AS norm_text FROM documents"
    ),
    description="canonical text normalization (lowercase, strip "
    "punctuation, collapse whitespace) — the row-local pre-pass that "
    "makes exact/fuzzy dedup robust to case and punctuation noise; "
    "zero shuffles, whole-stage codegen",
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return normalize_text(docs, "text").select("doc_id", "norm_text")


@register(
    "q_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {_langid_expr_sql()} AS predicted FROM documents
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY lang, predicted
    """,
    description="language-ID confusion matrix: labeled lang vs the n-gram "
    "heuristic's prediction — classifier-eval aggregation, one scan + one "
    "tiny groupBy",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", langid_col().alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_vocab_coverage",
    oracle=vocab_coverage_sql("documents", "text", 30),
    description="frequency vocabulary (top-30, lexicographic tiebreak) + "
    "per-doc OOV rate — tokenizer-prep audit; vocab sort runs over the "
    "distinct-token table only and broadcasts back, corpus shuffles once",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text", vocab_size=30)


@register(
    "q_bpe_encode",
    oracle=None,  # the training loop is iterative (driver-argmax per
    # merge) — no SQL oracle; gated by the hand-computed merge fixture
    # and roundtrip property in tests/test_bpe.py
    description="BPE tokenizer induction + encoding: merges learned from "
    "the word-frequency table (corpus touched ONCE; every iteration runs "
    "vocab-sized), then rank-priority encoding via an Arrow mapInPandas "
    "kernel — deterministic merge order (count, then lexicographic)",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8, min_pair_count=2)
    return bpe_encode(docs, merges)


def _synth_url_spark() -> F.Column:
    # Deterministic URL corpus exercising every canonicalization rule:
    # shouting scheme/host + default https port + tracking params +
    # fragment (0), non-default port (1), subdomain + .org + mixed
    # params (2), default http port + ref tracking key (3).
    m = F.pmod(F.col("doc_id"), F.lit(4))
    return (
        F.when(
            m == 0,
            F.format_string(
                "HTTPS://WWW.%s.Example.COM:443/a/%d/?utm_source=feed&b=%d&a=1#frag",
                F.col("source"),
                F.pmod(F.col("doc_id"), F.lit(7)),
                F.pmod(F.col("doc_id"), F.lit(13)),
            ),
        )
        .when(
            m == 1,
            F.format_string(
                "http://%s.example.com:8080/p/%d",
                F.col("source"),
                F.pmod(F.col("doc_id"), F.lit(5)),
            ),
        )
        .when(
            m == 2,
            F.format_string(
                "https://News.%s.org/x/%d/?z=9&y=2&utm_campaign=c",
                F.col("source"),
                F.pmod(F.col("doc_id"), F.lit(11)),
            ),
        )
        .otherwise(
            F.format_string(
                "http://%s.example.com:80/q?id=%d&ref=tw",
                F.col("source"),
                F.col("doc_id"),
            )
        )
    )


_SYNTH_URL_SQL = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN printf('HTTPS://WWW.%s.Example.COM:443/a/%d/?utm_source=feed&b=%d&a=1#frag',
                            source, doc_id % 7, doc_id % 13)
         WHEN 1 THEN printf('http://%s.example.com:8080/p/%d', source, doc_id % 5)
         WHEN 2 THEN printf('https://News.%s.org/x/%d/?z=9&y=2&utm_campaign=c',
                            source, doc_id % 11)
         ELSE printf('http://%s.example.com:80/q?id=%d&ref=tw', source, doc_id)
       END AS url
FROM documents
"""


@register(
    "q_url_normalize",
    oracle=(
        "SELECT doc_id, url, url_norm, url_host, registered_domain FROM ("
        + with_normalized_urls_sql(_SYNTH_URL_SQL, "url")
        + ")"
    ),
    description="URL canonicalization (scheme/host lowercasing, www + "
    "default-port stripping, trailing-slash collapse, tracking-param "
    "removal, query-param sorting, fragment drop) + registered-domain "
    "extraction — all row-local JVM regexp/array HOFs, zero shuffle; "
    "the dedup/domain-cap key for web corpora",
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.urls import with_normalized_urls

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _synth_url_spark().alias("url")
    )
    out = with_normalized_urls(docs, "url")
    return out.select("doc_id", "url", "url_norm", "url_host", "registered_domain")


from cosmos_xenna_spark.operators.urls import with_parsed_ips, with_parsed_ips_sql  # noqa: E402

# Deterministic IP corpus: public ranges, RFC1918 privates, loopback,
# link-local and three malformed shapes — every branch exercised.
_SYNTH_IP_SQL = """
SELECT doc_id,
       CASE doc_id % 8
         WHEN 0 THEN printf('%d.%d.%d.%d', 20 + doc_id % 80, doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256)
         WHEN 1 THEN printf('10.%d.%d.%d', doc_id % 256, (doc_id * 3) % 256, (doc_id * 5) % 256)
         WHEN 2 THEN printf('172.%d.0.%d', 16 + doc_id % 16, doc_id % 256)
         WHEN 3 THEN printf('192.168.%d.%d', doc_id % 256, (doc_id * 11) % 256)
         WHEN 4 THEN '127.0.0.1'
         WHEN 5 THEN printf('169.254.%d.1', doc_id % 256)
         WHEN 6 THEN printf('999.1.1.%d', doc_id % 256)
         ELSE 'not-an-ip'
       END AS ip
FROM documents
"""


@register(
    "q_ip_parse",
    oracle=with_parsed_ips_sql(_SYNTH_IP_SQL, "ip"),
    description="IPv4 parsing for web-log curation: numeric u32 form "
    "(geo/CIDR range-joinable), /24 + /16 aggregation prefixes, RFC1918/"
    "loopback/link-local private flag — all row-local regexp + integer "
    "arithmetic, zero shuffle; malformed addresses yield NULLs, never a "
    "silently wrong prefix",
)
def q_ip_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.pmod(F.col("doc_id"), F.lit(8))
    d = F.col("doc_id")
    ip = (
        F.when(m == 0, F.format_string("%d.%d.%d.%d", F.lit(20) + d % 80, d % 256, (d * 7) % 256, (d * 13) % 256))
        .when(m == 1, F.format_string("10.%d.%d.%d", d % 256, (d * 3) % 256, (d * 5) % 256))
        .when(m == 2, F.format_string("172.%d.0.%d", F.lit(16) + d % 16, d % 256))
        .when(m == 3, F.format_string("192.168.%d.%d", d % 256, (d * 11) % 256))
        .when(m == 4, F.lit("127.0.0.1"))
        .when(m == 5, F.format_string("169.254.%d.1", d % 256))
        .when(m == 6, F.format_string("999.1.1.%d", d % 256))
        .otherwise(F.lit("not-an-ip"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", ip.alias("ip"))
    return with_parsed_ips(docs, "ip")


from cosmos_xenna_spark.operators.urls import (  # noqa: E402
    extract_outlink_domains,
    extract_outlink_domains_sql,
    with_parsed_user_agents,
    with_parsed_user_agents_sql,
)

_SYNTH_UA_SQL = """
SELECT doc_id,
       CASE doc_id % 7
         WHEN 0 THEN printf('Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/1%d.0 Safari/537.36', doc_id % 20)
         WHEN 1 THEN printf('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15) Gecko/20100101 Firefox/1%d.0', doc_id % 20)
         WHEN 2 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 Safari/604.1'
         WHEN 3 THEN printf('Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36 Edg/1%d.0', doc_id % 20)
         WHEN 4 THEN 'Mozilla/5.0 (Linux; Android 14) Chrome/121.0 Mobile Safari/537.36 OPR/76.2'
         WHEN 5 THEN printf('Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html) v%d', doc_id % 9)
         ELSE printf('python-requests/2.%d', doc_id % 30)
       END AS ua
FROM documents
"""


@register(
    "q_ua_parse",
    oracle=with_parsed_user_agents_sql(_SYNTH_UA_SQL, "ua"),
    description="user-agent classification for traffic curation: bot "
    "detection first (crawler UAs embed browser tokens), then first-match "
    "browser/OS family rule chains — row-local regexps, zero shuffle; the "
    "rules are data, not plan shape",
)
def q_ua_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    m = F.pmod(d, F.lit(7))
    ua = (
        F.when(m == 0, F.format_string("Mozilla/5.0 (Windows NT 10.0; Win64) AppleWebKit/537.36 Chrome/1%d.0 Safari/537.36", d % 20))
        .when(m == 1, F.format_string("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15) Gecko/20100101 Firefox/1%d.0", d % 20))
        .when(m == 2, F.lit("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 Safari/604.1"))
        .when(m == 3, F.format_string("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36 Edg/1%d.0", d % 20))
        .when(m == 4, F.lit("Mozilla/5.0 (Linux; Android 14) Chrome/121.0 Mobile Safari/537.36 OPR/76.2"))
        .when(m == 5, F.format_string("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html) v%d", d % 9))
        .otherwise(F.format_string("python-requests/2.%d", d % 30))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", ua.alias("ua"))
    return with_parsed_user_agents(docs, "ua")


@register(
    "q_outlink_domains",
    oracle=extract_outlink_domains_sql(
        "SELECT doc_id, text || ' see https://WWW.Ref' || CAST(doc_id % 5 AS STRING)"
        " || '.Example.org/a/' || CAST(doc_id AS STRING)"
        " || ' and http://cdn' || CAST(doc_id % 3 AS STRING)"
        " || '.example.com:8080/x?y=1 end' AS text FROM documents",
        "doc_id",
        "text",
    ),
    description="outlink extraction: every http(s) URL mentioned in text "
    "reduced to its registered domain and counted per (doc, domain) — the "
    "web-graph construction primitive (citation/spam-farm inputs); one "
    "regexp explode + one fine-grained aggregation",
)
def q_outlink_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://WWW.Ref"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.org/a/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://cdn"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.com:8080/x?y=1 end"),
        ).alias("text"),
    )
    return extract_outlink_domains(docs, "doc_id", "text")


from cosmos_xenna_spark.operators.text import (  # noqa: E402
    vocab_jaccard,
    vocab_jaccard_sql,
)


@register(
    "q_vocab_jaccard",
    oracle=vocab_jaccard_sql("SELECT lang, text FROM documents"),
    description="pairwise vocabulary Jaccard between languages, exact ppm "
    "(shared-scraper / contamination fingerprint at the group level): one "
    "distinct (group, token) table, ONE token-key self-join (never "
    "doc-pairs), per-group sizes broadcast onto the bounded pair result",
)
def q_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    return vocab_jaccard(docs, group_col="lang")


from cosmos_xenna_spark.operators.text import (  # noqa: E402
    vocab_growth_curve,
    vocab_growth_curve_sql,
    zipf_curve,
    zipf_curve_sql,
)


@register(
    "q_vocab_growth_curve",
    oracle=vocab_growth_curve_sql(
        "SELECT doc_id, text FROM documents", "doc_id", "text", 10
    ),
    description="Heaps-law vocabulary growth: cumulative distinct words "
    "vs cumulative tokens at 10 corpus prefixes — the 'is the crawl "
    "still contributing vocabulary' diagnostic; first-bucket-per-word "
    "aggregation (vocab-sized), cumsum over the 10-row bucket frame",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth_curve(docs, "doc_id", "text", n_buckets=10)


@register(
    "q_zipf_curve",
    oracle=zipf_curve_sql("SELECT text FROM documents", "text", 256),
    description="Zipf rank-frequency fingerprint at doubling ranks "
    "(1..256): word + count per power-of-two rank via the DISTRIBUTED "
    "global rank (quantile buckets + offsets — the vocabulary never "
    "sorts in one task); oracle is the naive global ORDER BY, so the "
    "hash-match certifies the bucketing machinery",
)
def q_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    return zipf_curve(docs, "text", max_rank=256)


from cosmos_xenna_spark.operators.dedup import symspell_edit1_join  # noqa: E402

# Planted-typo query log (the arithmetic-ground-truth fixture pattern):
# the closed synthetic vocabulary has no natural misspellings, so each
# dictionary token is corrupted three deterministic ways — one
# deletion, one insertion, one substitution, at freq-derived positions
# — and the SymSpell join must recover the corrections exactly.
_SYMSPELL_ORACLE = """
    WITH toks AS (
      SELECT UNNEST(regexp_extract_all(lower(text), '{rx}', 0)) AS t
      FROM documents
    ),
    vocab AS (SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS freq
              FROM toks GROUP BY t),
    dict AS (SELECT token, freq FROM vocab
             WHERE freq >= 5 AND length(token) >= 4),
    q AS (
      SELECT DISTINCT query_token FROM (
        SELECT concat(substr(token, 1, freq % length(token)),
                      substr(token, freq % length(token) + 2)) AS query_token
        FROM dict
        UNION ALL
        SELECT concat(substr(token, 1, (freq // 3) % (length(token) + 1)),
                      'x',
                      substr(token, (freq // 3) % (length(token) + 1) + 1))
        FROM dict
        UNION ALL
        SELECT concat(substr(token, 1, (freq // 9) % length(token)),
                      'z',
                      substr(token, (freq // 9) % length(token) + 2))
        FROM dict
      )
    )
    SELECT q.query_token, d.token AS suggestion, d.freq AS dict_freq,
           CAST(levenshtein(q.query_token, d.token) AS BIGINT) AS lev
    FROM q JOIN dict d ON levenshtein(q.query_token, d.token) <= 1
""".format(rx=TOKEN_REGEX)


@register(
    "q_symspell_suggest",
    oracle=_SYMSPELL_ORACLE,
    description="SymSpell spell-correction join: planted-typo query tokens "
    "(one deletion/insertion/substitution per dict word, freq-derived "
    "positions) matched to the corpus dictionary at Levenshtein <= 1 via "
    "deletion-neighborhood variant equi-join + exact verify — never an "
    "all-pairs edit-distance join; the naive all-pairs oracle certifies "
    "the neighborhood candidates are COMPLETE for distance 1",
)
def q_symspell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    vocab = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_REGEX}', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    dict_df = checkpoint(
        vocab.filter((F.col("freq") >= 5) & (F.length("token") >= 4))
    )
    q1 = dict_df.select(
        F.expr(
            "concat(substring(token, 1, freq % length(token)),"
            " substring(token, freq % length(token) + 2))"
        ).alias("query_token")
    )
    q2 = dict_df.select(
        F.expr(
            "concat(substring(token, 1, (freq div 3) % (length(token) + 1)),"
            " 'x', substring(token, (freq div 3) % (length(token) + 1) + 1))"
        ).alias("query_token")
    )
    q3 = dict_df.select(
        F.expr(
            "concat(substring(token, 1, (freq div 9) % length(token)),"
            " 'z', substring(token, (freq div 9) % length(token) + 2))"
        ).alias("query_token")
    )
    queries = q1.union(q2).union(q3)
    out = symspell_edit1_join(
        queries, dict_df, q_col="query_token", d_col="token", keep_cols=("freq",)
    )
    return out.select(
        "query_token",
        F.col("token").alias("suggestion"),
        F.col("freq").alias("dict_freq"),
        "lev",
    )


from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    multiclass_f1,
    multiclass_f1_sql,
)
from cosmos_xenna_spark.operators.text import langid_col  # noqa: E402


@register(
    "q_multiclass_f1",
    oracle=multiclass_f1_sql(
        f"SELECT lang, {_langid_expr_sql()} AS predicted FROM documents",
        gold_col="lang",
        pred_col="predicted",
    ),
    description="multi-class precision/recall/F1 over the language-ID "
    "heuristic vs gold labels: per class exact tp/fp/fn + ppm ratios "
    "(f1 = 2tp/(2tp+fp+fn), one truncation), plus __macro__ (unweighted "
    "integer mean of per-class ppms) and __micro__ (pooled = accuracy) "
    "rows — the multi-class eval the binary PR/ROC family can't give; "
    "one confusion agg, class-count scale after",
)
def q_multiclass_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    preds = docs.select(F.col("lang").alias("gold"), langid_col().alias("predicted"))
    return multiclass_f1(preds, "gold", "predicted")
