"""Distributed Bloom filters — the membership sketch of the dedup /
decontamination toolchain (Dolma's URL dedup, benchmark-contamination
guards at corpus scale all run on Bloom filters: constant-size,
mergeable, one-sided error).

Why this shape scales:

- **Build is a pure bit_or aggregation.** Each key contributes k set
  bits; OR is idempotent AND associative, so there is no distinct
  anywhere in the plan (duplicate keys or retried tasks re-OR the same
  bits), partial aggregation combines map-side, and per-group state is
  exactly m/64 longs. A 100 TB corpus builds a filter with one shuffle
  of (group, word_idx, or-partial) rows — m/64 rows per group per
  partition, independent of input size.
- **md5-portable hashing.** The k probe positions come from the md5
  prefix of `key + '#' + i` (functions/hashing.py discipline), so a
  SQL oracle replays the filter BIT FOR BIT — build and probe are
  fully value-checked, unlike the approx sketches (HLL/GK) that only
  admit error-bound checks.
- **Dense assembly without ordered collects.** Spark's collect_list is
  order-unstable, so the per-group word map goes through
  map_from_entries and a sequence(0..m/64-1) transform — deterministic
  layout with zero-filled gaps, no sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.hashing import hex16_hash

M_BITS = 8192  # filter width (128 longs) — sized for ~1k keys/group at ~1% fp
K_HASHES = 4
_WORDS = M_BITS // 64


def _position(key: Column, i: int) -> Column:
    return F.pmod(hex16_hash(F.concat(key, F.lit(f"#{i}"))), F.lit(M_BITS))


def bloom_positions(key: Column) -> Column:
    """Array of K_HASHES bit positions for a key (deterministic,
    md5-portable: position_i = hex16(md5(key + '#' + i)) mod M_BITS)."""
    return F.array(*[_position(key, i) for i in range(1, K_HASHES + 1)])


def bloom_build(
    keyed: DataFrame,
    group_col: str = "source",
    key_col: str = "s",
) -> DataFrame:
    """One Bloom filter per group over the key column: returns
    (group, filter) with filter as a dense array<long> of M_BITS/64
    words. Plan: explode K_HASHES positions -> bit_or per (group, word)
    -> map-assemble the dense array (no distinct, no ordered collect)."""
    pos = keyed.select(
        F.col(group_col).alias("grp"),
        F.explode(bloom_positions(F.col(key_col))).alias("p"),
    )
    # PySpark's shiftleft() only takes a Python-int bit count; the SQL
    # function accepts a column — call it directly
    ored = pos.groupBy(
        "grp", (F.col("p") / 64).cast("long").alias("w")
    ).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("p"), F.lit(64)).cast("int"),
            )
        ).alias("v")
    )
    assembled = ored.groupBy("grp").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "v"))).alias("mp")
    )
    dense = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(_WORDS - 1).cast("long")),
        lambda w: F.coalesce(F.element_at(F.col("mp"), w), F.lit(0).cast("long")),
    )
    return assembled.select(
        F.col("grp").alias(group_col), dense.alias("filter")
    )


def bloom_summary(filters: DataFrame) -> DataFrame:
    """(source, n_set_bits, filter_md5): the value-checkable digest of
    each per-source filter — popcount plus an md5 over the canonical
    comma-joined word list (dense zero-filled layout makes the string
    deterministic)."""
    n_bits = F.aggregate(
        F.col("filter"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.bit_count(x),
    )
    canon = F.concat_ws(",", F.transform(F.col("filter"), lambda x: x.cast("string")))
    return filters.select(
        "source",
        n_bits.alias("n_set_bits"),
        F.md5(canon).alias("filter_md5"),
    )


def bloom_might_contain(filter_col: Column, key: Column) -> Column:
    """True iff all K_HASHES of the key's bits are set in the filter (the
    one-sided membership test: false positives possible, false
    negatives impossible)."""
    cond = None
    for i in range(1, K_HASHES + 1):
        p = _position(key, i)
        w = (p / 64).cast("long")
        b = F.pmod(p, F.lit(64)).cast("int")
        hit = (
            F.call_function(
                "shiftright", F.element_at(filter_col, (w + 1).cast("int")), b
            ).bitwiseAND(1)
            == 1
        )
        cond = hit if cond is None else (cond & hit)
    return cond
