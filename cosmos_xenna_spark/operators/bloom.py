"""Bloom-filter prefiltered semi/anti joins (decontamination at scale).

The 100 TB problem this solves: semi/anti-joining a huge fact table
against a key set that is too large to broadcast raw (hundreds of
millions of eval-set fingerprints) normally shuffles the ENTIRE fact
table on the join key.  A Bloom bitset of the key side costs ~9.6 bits
per key at 1% false positives instead of the keys themselves, and
turns the join into:

- row-local bit probes on the fact side (no shuffle, pushdown-safe),
- an exact join on only the sliver of rows the filter could not rule
  out (true matches + ~``fp_rate`` false positives).

Results are EXACT — the Bloom filter only prunes definite non-members;
the exact join removes false positives — so the SQL oracle is the
plain semi/anti join.

Hashing: Kirsch-Mitzenmacher double hashing from two salted
``xxhash64`` probes, positions into a ``num_bits`` bitset packed
as ``num_bits/64`` longs.  Building the bitset is one aggregation over
the key side (explode k positions -> bit_or per word); the packed
words come back to the driver (one row per touched word).

Shipping: each probe site carries the whole bitset as ONE literal — a
JSON string that the optimizer constant-folds into a single
``array<bigint>`` once per query — so the plan holds a fixed number of
expression nodes and the driver makes O(1) py4j calls whatever the
bitset size.  (``F.lit(list)`` would be ``array(lit(w0), ...)``: one
py4j round trip and one Catalyst node per word, analysed and optimised
on every action.)  Executors receive the folded array inside each
stage's serialized plan.

Sizing: an explicit ``num_bits`` means exactly that many bits.  By
default the bitset is sized for 1% false positives from the key side's
row count, which the build aggregation counts in the same job: it builds at
``MAX_AUTO_BITS`` and ORs word blocks down to the smallest power of two
of at least ``suggest_num_bits(rows)`` bits.  The fold is exact — the
result is bit-identical to building at the final size — because a
power-of-two ``m'`` divides ``m``, so ``pos mod m' == (pos mod m) mod
m'``, and the ``h2 | 1`` odd-forcing commutes with that reduction.
Above ~109k key rows the auto size stops growing (the bitset stays a
128 KiB literal) and the false-positive rate rises; pass ``num_bits``
for a bigger filter.

Reference parity: none — the reference joins nothing; this is the
engine-level replacement for driver-side "filter task list by set
membership" patterns in its pipelines.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# Build size of the default (auto-sized) path, and its largest result.
MAX_AUTO_BITS = 1 << 20


def _positions(key: str, num_bits: int, num_hashes: int) -> list[str]:
    """Kirsch-Mitzenmacher double hashing: ``pos_i = (h1 + i*h2) % m``
    from two salted ``xxhash64`` evaluations — per-row hashing cost is
    constant in ``num_hashes`` (the dominant cost for long keys like
    document text), with the standard false-positive behavior.

    The hash is NOT oracle-visible: the SQL oracle for every consumer
    is the plain semi/anti join (the bitset is exactness-preserving
    pruning for ANY hash), so the probes use Spark's codegen-native
    xxhash64 instead of the portable-but-cryptographic md5 path (one
    md5 + hex conv over full document text per row dominated the
    decontamination queries; measured in round 12).  ``h2`` is reduced
    mod ``m`` first so ``i*h2`` cannot overflow, and forced odd so it
    cycles all of a power-of-two ``m``.  ``pmod`` (not ``%``) because
    xxhash64 is signed.

    Returned as SQL text over the column named ``key``: one ``F.expr``
    per consumer instead of a py4j round trip per operator."""
    k = "CAST(`{}` AS STRING)".format(key.replace("`", "``"))
    h1 = f"pmod(xxhash64('bloom1', {k}), {num_bits})"
    h2 = f"(pmod(xxhash64('bloom2', {k}), {num_bits}) | 1)"
    return [f"(({h1} + {i} * {h2}) % {num_bits})" for i in range(num_hashes)]


def _aggregate_words(
    keys: DataFrame, key_col: str, num_bits: int, num_hashes: int
) -> tuple[list[int], int]:
    """One aggregation job over the key side: the packed bitset
    (``num_bits//64`` longs) and the key side's row count (every row
    explodes into exactly ``num_hashes`` positions)."""
    if num_bits % 64:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    positions = ", ".join(_positions(key_col, num_bits, num_hashes))
    packed = (
        keys.selectExpr(f"explode(array({positions})) AS p")
        .selectExpr("p DIV 64 AS word", "shiftleft(1L, CAST(p % 64 AS INT)) AS bit")
        .groupBy("word")
        .agg(F.bit_or("bit").alias("mask"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for row in packed:
        words[row["word"]] = row["mask"]
    return words, sum(row["n"] for row in packed) // num_hashes


def build_bloom_words(keys: DataFrame, key_col: str, num_bits: int, num_hashes: int) -> list[int]:
    """Aggregate the key side into a packed bitset (list of
    ``num_bits//64`` longs).  One scan of the key side; the shuffle is
    ``num_bits/64`` rows at most."""
    return _aggregate_words(keys, key_col, num_bits, num_hashes)[0]


def fold_bloom_words(words: list[int], num_bits: int) -> list[int]:
    """OR a packed bitset down to ``num_bits``, a power of two of at
    least 64 that divides the source size: bit ``pos`` lands on
    ``pos mod num_bits``."""
    n = num_bits // 64
    if num_bits < 64 or num_bits & (num_bits - 1) or len(words) % n:
        raise ValueError(f"cannot fold {len(words) * 64} bits to {num_bits}")
    out = words[:n]
    for i in range(n, len(words)):
        out[i % n] |= words[i]
    return out


def suggest_num_bits(n_keys: int, fp_rate: float = 0.01) -> int:
    """Textbook sizing ``m = -n ln p / (ln 2)^2``, rounded up to a
    multiple of 64."""
    m = int(-n_keys * math.log(fp_rate) / (math.log(2) ** 2)) + 1
    return max(64, ((m + 63) // 64) * 64)


def auto_num_bits(n_keys: int) -> int:
    """The default bitset size: the smallest power of two of at least
    ``suggest_num_bits(n_keys)`` (1% false positives), capped at
    ``MAX_AUTO_BITS``."""
    return min(MAX_AUTO_BITS, 1 << max(6, (suggest_num_bits(n_keys) - 1).bit_length()))


def build_sized_bloom(keys: DataFrame, key_col: str, num_hashes: int) -> tuple[list[int], int]:
    """Auto-sized bitset: build at ``MAX_AUTO_BITS``, count the key rows
    in the same job, fold to ``auto_num_bits(rows)``.  Returns
    ``(words, num_bits)``."""
    words, n_keys = _aggregate_words(keys, key_col, MAX_AUTO_BITS, num_hashes)
    num_bits = auto_num_bits(n_keys)
    return fold_bloom_words(words, num_bits), num_bits


def _might_contain(key: str, words: list[int], num_bits: int, num_hashes: int) -> Column:
    """Row-local membership probe of column ``key`` against the bitset,
    shipped as one foldable ``array<bigint>`` literal per probe site
    (module docstring)."""
    bitset = f"from_json('{json.dumps(words)}', 'array<bigint>')"
    return F.expr(
        " AND ".join(
            f"getbit(element_at({bitset}, CAST({p} DIV 64 + 1 AS INT)), CAST({p} % 64 AS INT)) = 1"
            for p in _positions(key, num_bits, num_hashes)
        )
    )


def _key_probe(keys: DataFrame, on: str, num_bits: int | None, num_hashes: int) -> Column:
    if num_bits is None:
        words, num_bits = build_sized_bloom(keys, on, num_hashes)
    else:
        words = build_bloom_words(keys, on, num_bits, num_hashes)
    return _might_contain(on, words, num_bits, num_hashes)


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    *,
    num_bits: int | None = None,
    num_hashes: int = 5,
    broadcast_exact: bool = True,
) -> DataFrame:
    """``big LEFT SEMI JOIN keys ON big[on] = keys[on]``, Bloom-pruned.

    ``num_bits=None`` sizes the bitset from the key side (module
    docstring).  ``broadcast_exact=False`` models the regime the filter
    exists for: the key side fits as a bitset but not as a raw
    broadcast, so the exact join shuffles — but only the prefiltered
    sliver of ``big``.
    """
    pre = big.filter(_key_probe(keys, on, num_bits, num_hashes))
    rhs = keys.select(on).distinct()
    if broadcast_exact:
        rhs = F.broadcast(rhs)
    return pre.join(rhs, on=on, how="leftsemi")


def bloom_anti_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    *,
    num_bits: int | None = None,
    num_hashes: int = 5,
    broadcast_exact: bool = True,
) -> DataFrame:
    """``big LEFT ANTI JOIN keys`` (decontamination), Bloom-pruned.

    Rows the filter rules out are KEPT outright (a Bloom "no" is
    definite) and never touch the join; only the maybe-sliver runs the
    exact anti join.  The source is read by both branches — each scan
    carries the row-local probe as a pushed filter, and at scale the
    maybe-branch scan is the one that matters (it feeds the shuffle).
    """
    maybe = _key_probe(keys, on, num_bits, num_hashes)
    clean = big.filter(~maybe)
    rhs = keys.select(on).distinct()
    if broadcast_exact:
        rhs = F.broadcast(rhs)
    checked = big.filter(maybe).join(rhs, on=on, how="leftanti")
    return clean.unionByName(checked)
