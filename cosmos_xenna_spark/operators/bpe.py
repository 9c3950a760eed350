"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — the
public algorithm every LLM tokenizer pipeline runs before training).

Scale shape — the part that matters at 100 TB: BPE statistics depend
only on the WORD FREQUENCY table, so the corpus is touched exactly
once (one groupBy(word) shuffle, map-side combined).  Every merge
iteration then runs against the distinct-word table — vocabulary-
bounded (even web-scale corpora have ~10^7 distinct words), thousands
of times smaller than the corpus.  Per iteration: one vocab-sized
aggregation for pair counts, a driver-side argmax (a single row), and
a row-local symbol rewrite.  The evolving symbol table is eagerly
checkpointed every few rounds — the rewrite expression would
otherwise nest once per merge and blow up the analyzer (the
connected-components lineage lesson).

Determinism: the winning pair is (max count, then lexicographically
smallest pair) — total order, so the merge sequence is reproducible
across partitionings and runs.  ``bpe_train`` has no SQL oracle (the
loop is inherently iterative); its gate is the hand-computed
Sennrich-style fixture in ``tests/test_bpe.py`` plus the
encode-roundtrip property.

End-of-word marker: ``</w>`` appended to each word's final character,
so merges distinguish word-final from word-internal units (the
original formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint, release_checkpoint

EOW = "</w>"
# Merges between symbol-table checkpoints: each merge nests one more
# rewrite expression into the plan.
CHECKPOINT_EVERY = 4


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the corpus — the ONLY corpus-sized pass in BPE."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(wf: DataFrame) -> DataFrame:
    """Split each word into characters, last one tagged with </w>."""
    chars = F.split(F.col("word"), "")
    syms = F.concat(
        F.slice(chars, 1, F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )
    return wf.select("word", "n", syms.alias("syms"))


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-pair counts weighted by word frequency (vocab-sized)."""
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1),"
        " (s, i) -> struct(s AS left, element_at(syms, i + 2) AS right))"
    )
    return (
        symtab.filter(F.size("syms") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .groupBy("p.left", "p.right")
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(symtab: DataFrame, left: str, right: str) -> DataFrame:
    """Row-local rewrite: every adjacent (left, right) becomes one
    symbol.  A single left-fold per word — no regex, no Python."""
    lq = left.replace("\\", "\\\\").replace("'", "\\'")
    rq = right.replace("\\", "\\\\").replace("'", "\\'")
    merged = F.expr(
        f"""aggregate(
              syms,
              CAST(array() AS array<string>),
              (acc, x) -> CASE
                 WHEN size(acc) > 0 AND element_at(acc, -1) = '{lq}' AND x = '{rq}'
                 THEN concat(slice(acc, 1, size(acc) - 1), array('{lq}{rq}'))
                 ELSE concat(acc, array(x)) END
            )"""
    )
    return symtab.select("word", "n", merged.alias("syms"))


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    list in rank order.  Stops early when no pair reaches
    ``min_pair_count``.  The result is a Python list, so every symbol
    table checkpoint this makes is released before it returns."""
    symtab = checkpoint(_initial_symbols(word_frequencies(docs, text_col)))
    held = symtab  # the checkpoint the current symbol table plans against
    merges: list[tuple[str, str]] = []
    try:
        for i in range(n_merges):
            top = (
                _pair_counts(symtab)
                .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < min_pair_count:
                break
            left, right = top[0]["left"], top[0]["right"]
            merges.append((left, right))
            symtab = _apply_merge(symtab, left, right)
            if (i + 1) % CHECKPOINT_EVERY == 0:
                symtab = checkpoint(symtab)
                release_checkpoint(held)
                held = symtab
    finally:
        release_checkpoint(held)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode documents with a learned merge list:
    ``(doc_id, n_words, n_tokens, tokens)`` with ``tokens`` the
    space-joined subword sequence (string output — driver dtype
    contract forbids arrays).

    The classic rank-priority encode (repeatedly merge the
    lowest-rank adjacent pair) runs as an Arrow-batched ``mapInPandas``
    kernel with the merge-rank dict shipped in the closure — the
    deliberate Python island of this family (a 50-deep chain of
    fold expressions would defeat codegen; measured slower).
    """
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word[:-1]) + [word[-1] + EOW] if word else []
        while len(syms) >= 2:
            best, best_rank = None, None
            for j in range(len(syms) - 1):
                r = ranks.get((syms[j], syms[j + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = j, r
            if best is None:
                break
            syms[best : best + 2] = [syms[best] + syms[best + 1]]
        return syms

    def fn(batches):
        for pdf in batches:
            ids, n_words, n_tokens, toks = [], [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in str(text).split(" ") if w]
                pieces: list[str] = []
                for w in words:
                    pieces.extend(encode_word(w))
                ids.append(int(i))
                n_words.append(len(words))
                n_tokens.append(len(pieces))
                toks.append(" ".join(pieces))
            yield pd.DataFrame(
                {"doc_id": ids, "n_words": n_words, "n_tokens": n_tokens, "tokens": toks}
            )

    return docs.select(id_col, text_col).mapInPandas(
        fn, schema="doc_id long, n_words long, n_tokens long, tokens string"
    )
