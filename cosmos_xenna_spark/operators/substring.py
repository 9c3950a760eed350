"""Corpus-level repeated-substring detection (the character-level dedup
of Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better" — their ExactSubstr variant, re-expressed relationally instead
of via a monolithic suffix array).

A length-``k`` character window repeated ANYWHERE in the corpus (beyond
its first occurrence in (doc_id, pos) order) marks a removable span;
overlapping spans merge per document.  The suffix-array formulation
needs a global sort of every suffix; the relational formulation is two
shuffles — gram-hash grouping and per-doc span aggregation — and the
window enumeration is row-local.

Scale levers:
- ``stride``: hash every ``stride``-th window instead of all of them —
  the standard sampling trade (a repeat of length >= k + stride - 1 is
  still always caught; shuffle volume drops by the stride factor).
- grams travel as ``xxhash64`` (or md5-based for oracle parity)
  8-byte keys, never substrings.

Outputs are integer span accounting per document — the numbers a
curation pipeline actually thresholds on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint, release_local_checkpoint


def enumerate_grams(
    docs: DataFrame, text_col: str = "text", k: int = 20, stride: int = 1
) -> DataFrame:
    """Row-local window enumeration: ``(doc_id, pos, h)`` for every
    ``stride``-th length-``k`` character window, grams as xxhash64.
    Shared by the batch operator and the streaming ingest form."""
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""CASE WHEN length({text_col}) >= {k} THEN
                      transform(
                        sequence(0, CAST(floor((length({text_col}) - {k}) / {stride}) AS INT)),
                        i -> struct(
                          i * {stride} AS pos,
                          xxhash64(substring({text_col}, i * {stride} + 1, {k})) AS h))
                    ELSE array() END"""
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.h")


def merge_spans_report(
    docs: DataFrame, spans: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Islands-merge + per-document accounting over removable spans:
    ``(doc_id, doc_len, n_spans, n_chars_removed)``, zeros for clean
    docs. Shared by the batch report and the streaming ingest form."""
    w = Window.partitionBy("doc_id").orderBy("start", "end")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        spans.withColumn(
            "new_island",
            F.when(F.coalesce(prev_max_end, F.lit(-1)) < F.col("start"), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("start").alias("s"), F.max("end").alias("e"))
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_chars_removed"),
    )
    return (
        docs.select("doc_id", F.length(text_col).cast("bigint").alias("doc_len"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "doc_len",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_chars_removed", F.lit(0)).alias("n_chars_removed"),
        )
    )


def repeated_substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
) -> DataFrame:
    """Removable repeated-substring spans: ``(doc_id, start, end)`` —
    every length-``k`` window whose gram occurs elsewhere in the corpus
    EARLIER in (doc_id, pos) order (first occurrence survives),
    overlapping windows pre-merged per doc by the caller's aggregation.

    Shape: window enumeration is a row-local transform over positions;
    one shuffle groups gram hashes (map-side combined min/count); the
    repeated sliver joins back gram-keyed.
    """
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    # ensure_parallelism BEFORE the interpreted window-enumeration HOF
    # (single parquet split would run it on one core), and derive the
    # first-occurrence/count per gram from ONE h-keyed window instead
    # of an aggregate + join-back: the join form re-evaluated the whole
    # enumeration once per branch and paid a second shuffle (measured
    # 11.7 s -> ~2 s at sf0.1; the gram-hash partition key is
    # fine-grained at any scale).
    pos_grams = enumerate_grams(ensure_parallelism(docs), text_col, k, stride)
    # first-occurrence key as a zero-padded printf string: identical
    # lexicographic semantics in Spark and DuckDB (struct MIN is not
    # portable to the oracle engine)
    okey = F.expr("printf('%020d|%020d', doc_id, pos)")
    wh = Window.partitionBy("h")
    return (
        pos_grams.withColumn("__k", okey)
        .withColumn("__first", F.min("__k").over(wh))
        .withColumn("__cnt", F.count(F.lit(1)).over(wh))
        .filter((F.col("__cnt") > 1) & (F.col("__k") != F.col("__first")))
        .select("doc_id", F.col("pos").alias("start"), (F.col("pos") + k).alias("end"))
    )


def substring_dedup_report(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
) -> DataFrame:
    """Per-document repeated-substring accounting:
    ``(doc_id, doc_len, n_spans, n_chars_removed)`` where spans are the
    MERGED removable intervals (classic islands merge: a new island
    starts where ``start`` exceeds the running max of previous ends).

    All integers — engine-exact.  Docs with no repeats report zeros.
    """
    spans = repeated_substring_spans(docs, text_col, k, stride)
    return merge_spans_report(docs, spans, text_col)


class IncrementalSubstringDedup:
    """Arrival-order ExactSubstr over an ever-growing corpus: the
    streaming/ingest form of :func:`substring_dedup_report`.

    Holds the corpus GRAM-HASH index ``(h, cnt)`` across batches —
    8 bytes per distinct window hash, the same working set the batch
    operator shuffles, just persisted between arrivals. Each call to
    :meth:`process_batch` reports the arriving documents' removable
    spans under first-ARRIVAL-survives semantics (any gram already in
    the index is an earlier occurrence; within the batch, (doc_id,
    pos) order breaks ties — so replaying a corpus in arrival order
    reproduces the batch operator's report exactly, see
    ``tests/test_streaming.py``), then merges the batch's grams into
    the index.

    Index maintenance is a full-outer merge keyed by ``h`` with
    checkpoint rotation (the BPE merge-table discipline): cost per
    batch tracks the INDEX size, not corpus history length. At 100 TB
    the index lives in a keyed store (state store / Delta MERGE); a
    dependency-free single-session build keeps it as a checkpointed
    DataFrame — same plan shape, same key.
    """

    def __init__(
        self,
        corpus: DataFrame | None,
        text_col: str = "text",
        k: int = 20,
        stride: int = 1,
    ) -> None:
        from cosmos_xenna_spark.operators.dedup import ensure_parallelism

        self.text_col, self.k, self.stride = text_col, k, stride
        if corpus is not None:
            grams = enumerate_grams(ensure_parallelism(corpus), text_col, k, stride)
            self._index = checkpoint(grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")))
        else:
            self._index = None

    def index_size(self) -> int:
        return self._index.count() if self._index is not None else 0

    def process_batch(self, batch_docs: DataFrame) -> DataFrame:
        """Report ``(doc_id, doc_len, n_spans, n_chars_removed)`` for
        the arriving docs, then fold their grams into the index.
        Returns an EAGER (checkpointed) frame — the index mutates
        underneath lazy plans otherwise."""
        from cosmos_xenna_spark.operators.dedup import ensure_parallelism

        grams = checkpoint(
            enumerate_grams(ensure_parallelism(batch_docs), self.text_col, self.k, self.stride)
        )

        okey = F.expr("printf('%020d|%020d', doc_id, pos)")
        wh = Window.partitionBy("h")
        flagged = (
            grams.withColumn("__k", okey)
            .withColumn("__first", F.min("__k").over(wh))
            .withColumn("__cnt", F.count(F.lit(1)).over(wh))
        )
        if self._index is not None:
            flagged = flagged.join(
                self._index.select("h", F.lit(True).alias("__in_corpus")), "h", "left"
            )
        else:
            flagged = flagged.withColumn("__in_corpus", F.lit(None).cast("boolean"))
        spans = flagged.filter(
            F.col("__in_corpus").isNotNull()
            | ((F.col("__cnt") > 1) & (F.col("__k") != F.col("__first")))
        ).select(
            "doc_id",
            F.col("pos").alias("start"),
            (F.col("pos") + self.k).alias("end"),
        )
        report = checkpoint(merge_spans_report(batch_docs, spans, self.text_col))

        batch_counts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
        if self._index is None:
            merged = batch_counts
        else:
            merged = (
                self._index.withColumnRenamed("cnt", "c0")
                .join(batch_counts.withColumnRenamed("cnt", "c1"), "h", "full_outer")
                .select(
                    "h",
                    (F.coalesce("c0", F.lit(0)) + F.coalesce("c1", F.lit(0))).alias("cnt"),
                )
            )
        old = self._index
        self._index = checkpoint(merged)
        # The report and the new index are materialised, so nothing plans
        # against the batch grams or the superseded index any more.
        release_local_checkpoint(grams)
        if old is not None:
            release_local_checkpoint(old)
        return report


def substring_dedup_report_sql(
    table: str, text_col: str = "text", k: int = 20, stride: int = 1
) -> str:
    """DuckDB mirror — identical gram/first-occurrence/island logic.

    Gram keys: DuckDB's ``hash()`` differs from Spark's ``xxhash64``,
    but the comparison never crosses engines on the HASH VALUE — both
    sides group windows by "same substring", so any collision-free
    per-engine key yields identical spans; the oracle uses the raw
    substring (exactness over speed, fine at oracle scale).
    """
    return f"""
    WITH pos_grams AS (
      SELECT doc_id, (i - 1) * {stride} AS pos,
             substring({text_col}, (i - 1) * {stride} + 1, {k}) AS g
      FROM {table},
           UNNEST(range(1, CAST(floor((length({text_col}) - {k}) / {stride}) AS BIGINT) + 2)) AS t(i)
      WHERE length({text_col}) >= {k}
    ),
    firsts AS (
      SELECT g, MIN(printf('%020d|%020d', doc_id, pos)) AS first, COUNT(*) AS cnt
      FROM pos_grams GROUP BY g
    ),
    spans AS (
      SELECT p.doc_id, p.pos AS s, p.pos + {k} AS e
      FROM pos_grams p JOIN firsts f USING (g)
      WHERE f.cnt > 1 AND printf('%020d|%020d', p.doc_id, p.pos) <> f.first
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < s
                  THEN 1 ELSE 0 END AS new_island
      FROM spans
    ),
    islands AS (
      SELECT doc_id,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
             s, e
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS n_chars_removed
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id, length(d.{text_col}) AS doc_len,
           COALESCE(n_spans, 0) AS n_spans,
           CAST(COALESCE(n_chars_removed, 0) AS BIGINT) AS n_chars_removed
    FROM {table} d LEFT JOIN per_doc USING (doc_id)
    """


def content_defined_chunks(
    docs: DataFrame,
    text_col: str = "text",
    gram: int = 12,
    divisor: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunking + cross-document chunk dedup — the
    storage/transfer dedup primitive (LBFS/rsync lineage): a chunk
    boundary falls BEFORE every position whose length-``gram``
    window hashes to 0 mod ``divisor``, so identical content
    re-synchronizes to identical chunks regardless of how insertions
    shifted it (fixed-size blocking would misalign every block after
    an edit).  Expected chunk length ~``divisor`` characters.

    Returns chunks shared by >= ``min_docs`` documents:
    ``(chunk_hash, n_docs, n_occurrences, chunk_len)`` — the dedup
    savings ledger.

    Shape: position enumeration + window hashing are row-local
    (explode -> JVM md5 per position, the ``enumerate_grams``
    pattern — grams never travel as text); one groupBy doc_id to
    assemble cut lists; chunk slicing row-local; one final groupBy
    chunk_hash.  The web-scale levers are ``stride`` sampling (as in
    :func:`enumerate_grams`) and a larger ``divisor``; hashes are
    md5-derived for bit-exact DuckDB parity
    (``functions.md5_long63``).
    """
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    # ensure_parallelism BEFORE the per-position explode: the documents
    # table is one input split at bench scale, and without the
    # round-robin the whole corpus's window-hash pass (one md5 per
    # character position) runs on a single core while the rest idle —
    # the same fix repeated_substring_spans and every shingle operator
    # already carries.
    base = ensure_parallelism(docs).select(
        "doc_id", text_col, F.length(text_col).cast("int").alias("__len")
    )
    pos = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""CASE WHEN {text_col} IS NOT NULL
                         AND length({text_col}) >= {gram} + 1
                    THEN sequence(2, length({text_col}) - {gram} + 1)
                    ELSE array() END"""
            )
        ).alias("p"),
        F.col(text_col),
    )
    cuts = (
        pos.filter(
            F.pmod(
                md5_long63(F.substring(F.col(text_col), F.col("p"), F.lit(gram))),
                F.lit(divisor),
            )
            == 0
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("p")).alias("__cuts"))
    )
    arr = base.join(cuts, "doc_id", "left").select(
        "doc_id",
        text_col,
        "__len",
        F.coalesce("__cuts", F.expr("array()")).alias("__cuts"),
    )
    chunks = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""zip_with(
                      concat(array(1), __cuts),
                      concat(__cuts, array(__len + 1)),
                      (s, e) -> substring({text_col}, s, e - s))"""
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)
    return (
        chunks.groupBy(md5_long63(F.col("chunk")).alias("chunk_hash"))
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min(F.length("chunk")).cast("bigint").alias("chunk_len"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def content_defined_chunks_sql(
    table_sql: str,
    text_col: str = "text",
    gram: int = 12,
    divisor: int = 16,
    min_docs: int = 2,
) -> str:
    """DuckDB mirror — identical md5 window hash, cuts and slicing."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    win_hash = md5_long63_sql(f"substr(t, CAST(p AS INT), {gram})")
    chunk_hash = md5_long63_sql("chunk")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, {text_col} AS t, length({text_col}) AS len
      FROM ({table_sql}) WHERE {text_col} IS NOT NULL
    ),
    cutsrc AS (
      SELECT doc_id, p
      FROM (
        SELECT doc_id, t, UNNEST(range(2, len - {gram} + 2)) AS p
        FROM base WHERE len >= {gram} + 1
      ) WHERE {win_hash} % {divisor} = 0
    ),
    cuts AS (
      SELECT doc_id, list_sort(array_agg(p)) AS cs FROM cutsrc GROUP BY doc_id
    ),
    spans AS (
      SELECT b.doc_id, b.t, b.len,
             list_prepend(1, COALESCE(c.cs, [])) AS starts,
             list_append(COALESCE(c.cs, []), b.len + 1) AS ends
      FROM base b LEFT JOIN cuts c USING (doc_id)
    ),
    chunks AS (
      SELECT doc_id,
             substr(t, CAST(starts[CAST(i AS INT)] AS INT),
                    CAST(ends[CAST(i AS INT)] - starts[CAST(i AS INT)] AS INT)) AS chunk
      FROM spans, UNNEST(range(1, len(starts) + 1)) AS g(i)
    )
    SELECT {chunk_hash} AS chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(length(chunk)) AS BIGINT) AS chunk_len
    FROM chunks WHERE length(chunk) > 0
    GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {min_docs}
    """


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    window: int = 5,
    max_hash_docs: int = 32,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local-document-fingerprinting algorithm): hash
    every length-``k`` character window, then from every run of
    ``window`` consecutive hashes select the minimum (rightmost on
    ties) — the selected set is position-robust (any shared substring
    of length >= k + window - 1 contributes at least one shared
    fingerprint) and ~2/(window+1) of all grams, the guaranteed-
    density sampling CDC chunking and stride sampling lack.

    Returns distinct ``(doc_id, pos, fp)`` fingerprints with
    fingerprint hashes that appear in <= ``max_hash_docs`` documents
    (stop-fingerprint cap: a boilerplate gram shared by a million docs
    generates a quadratic pair join downstream and identifies nothing
    — same lever as the LSH bucket cap).

    Shape: gram hashing row-local (explode -> JVM md5, the
    ``enumerate_grams`` pattern); selection is ONE keyed window
    (min over a rows-frame, rightmost-tie via the printf composite
    order key — DuckDB lacks struct-ordered window min); the doc-count
    cap one fine-grained aggregation.
    """
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    # Same single-input-split hazard as content_defined_chunks: the
    # per-position gram-hash pass must fan out BEFORE the explode.
    docs = ensure_parallelism(docs)
    grams = docs.select(
        "doc_id",
        F.length(text_col).cast("int").alias("__len"),
        F.explode(
            F.expr(
                f"""CASE WHEN {text_col} IS NOT NULL AND length({text_col}) >= {k}
                    THEN sequence(1, length({text_col}) - {k} + 1)
                    ELSE array() END"""
            )
        ).alias("pos"),
        F.col(text_col),
    ).select(
        "doc_id",
        "__len",
        "pos",
        md5_long63(F.substring(F.col(text_col), F.col("pos"), F.lit(k))).alias("h"),
    )
    # composite order key: min() picks smallest hash, then LARGEST pos
    # (rightmost) via the complemented position.  Spark orders structs
    # lexicographically, so the key stays numeric (the printf string
    # form — which the DuckDB oracle still uses, lacking struct-ordered
    # window mins — measured 1.76x slower at sf0.1: isolated medians
    # 8.45 s vs 4.80 s; 14M per-position string formats).
    key = F.struct(F.col("h").alias("h"), (-F.col("pos")).alias("np"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    # The selected-fingerprint frame feeds TWO consumers (the
    # doc-frequency cap aggregate and the capped join below) —
    # without materialization the full per-position gram-hash +
    # window-min pass re-executes once per consumer (the plan
    # compiled to 4 Generate+Window subtrees / 4 parquet scans;
    # ReuseExchange cannot dedupe them because the pushed-down
    # IsNotNull filters differ per branch). One eager checkpoint of
    # the ~2/(window+1)-of-grams frame makes the expensive pass
    # single-execution at any scale. LIFETIME (ADVICE r12): the
    # returned frame plans against these blocks lazily, so they
    # must outlive the call and cannot be tied to a Python handle —
    # a released localCheckpoint is NOT recomputable (cache.py
    # contract), and the scoped-persist alternative was measured
    # 7x SLOWER here (18.5 s vs 2.5 s isolated median: the cached
    # relation materializes AQE's byte-coalesced 1-2 partitions and
    # every downstream stage inherits that task count). One
    # selected-fingerprint table per call, node-sized — bounded;
    # cleanup belongs to the JVM ContextCleaner.
    selected = checkpoint(
        grams.withColumn("__sel", F.min(key).over(w))
        # only complete windows select (standard winnowing): the start
        # position must leave `window` grams before the end
        .filter(F.col("pos") <= F.col("__len") - k + 1 - (window - 1))
        .select(
            "doc_id",
            F.col("__sel.h").alias("fp"),
            (-F.col("__sel.np")).cast("bigint").alias("pos"),
        )
        .distinct()
    )
    doc_freq = selected.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("__nd")
    )
    return (
        selected.join(
            doc_freq.filter(F.col("__nd") <= max_hash_docs).select("fp"), "fp"
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("pos").cast("bigint").alias("pos"),
            "fp",
        )
    )


def winnow_fingerprints_sql(
    table_sql: str,
    text_col: str = "text",
    k: int = 8,
    window: int = 5,
    max_hash_docs: int = 32,
) -> str:
    from cosmos_xenna_spark.functions import md5_long63_sql

    gram_hash = md5_long63_sql(f"substr(t, CAST(pos AS INT), {k})")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, {text_col} AS t, length({text_col}) AS len
      FROM ({table_sql})
      WHERE {text_col} IS NOT NULL AND length({text_col}) >= {k}
    ),
    grams AS (
      SELECT doc_id, len, CAST(p AS BIGINT) AS pos, {gram_hash.replace('pos', 'p')} AS h
      FROM (SELECT doc_id, t, len, UNNEST(range(1, len - {k} + 2)) AS p FROM base)
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             CAST(substr(s, 1, 20) AS BIGINT) AS fp,
             9999999999 - CAST(substr(s, 22, 10) AS BIGINT) AS pos
      FROM (
        SELECT doc_id, len, pos,
               MIN(printf('%020d|%010d', h, 9999999999 - pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS s
        FROM grams
      ) WHERE pos <= len - {k} + 1 - {window - 1}
    ),
    keep AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= {max_hash_docs}
    )
    SELECT CAST(sel.doc_id AS BIGINT) AS doc_id, CAST(sel.pos AS BIGINT) AS pos, sel.fp
    FROM sel JOIN keep USING (fp)
    """


def winnow_shared_pairs(
    fingerprints: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Copy-detection pairs from winnowing fingerprints: documents
    sharing >= ``min_shared`` distinct fingerprint hashes, with the
    shared count — the MOSS similarity report.

    Pair generation is BUCKET-LOCAL (the minhash_candidate_pairs
    pattern): one fp-keyed aggregation collects each hash's distinct
    doc set (``collect_set`` subsumes the former standalone
    ``distinct`` shuffle — the market-basket fusion), pairs explode
    row-locally from the sorted member array, and one pair-keyed count
    finishes. Two exchanges total, no self-join and no checkpoint —
    the former form paid a (doc_id, fp) distinct, a round-robin
    fan-out, an eager checkpoint and TWO fp-keyed join exchanges for
    the same result. Buckets are bounded by the upstream
    ``max_hash_docs`` stop-fingerprint cap (callers passing uncapped
    frames inherit the same quadratic-per-bucket contract LSH buckets
    have); never an all-pairs join.
    """
    members = (
        fingerprints.select("doc_id", "fp")
        .groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
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
    return (
        members.select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_shared_pairs_sql(fingerprints_sql: str, min_shared: int = 2) -> str:
    return f"""
    WITH f AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM ({fingerprints_sql}))
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """
