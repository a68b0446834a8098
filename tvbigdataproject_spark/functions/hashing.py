"""Deterministic, engine-portable hashing primitives.

Sketch operators (minhash, simhash, fingerprints) need hash functions
that are (a) stable across Spark versions and (b) reproducible by the
DuckDB oracle so correctness is checkable end-to-end. md5 satisfies both
(identical hex output everywhere); Spark's murmur3 ``hash()`` does not
exist in DuckDB, so it is reserved for purely internal partitioning.

At 100 TB md5-per-shingle is still cheap relative to the shuffle it
feeds, and it runs JVM-side inside codegen (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex16_hash(value: Column) -> Column:
    """16-bit integer hash: first 4 hex chars of md5, as long.

    Portable to SQL as ``('0x' || substr(md5(v),1,4))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(value), 1, 4), 16, 10).cast("long")


def hex_bits_hash(value: Column, hex_chars: int = 8) -> Column:
    """(4*hex_chars)-bit integer hash from an md5 prefix."""
    return F.conv(F.substring(F.md5(value), 1, hex_chars), 16, 10).cast("long")


_COMP_HEX = 8  # hex chars per signature component (32-bit)
_COMPS_PER_DIGEST = 32 // _COMP_HEX  # 4 components carved from one md5


def minhash_signature(shingle_array: Column, num_hashes: int = 8) -> Column:
    """MinHash signature as array<string> of length ``num_hashes``.

    Component i is the lexicographic minimum over shingles of an 8-hex-char
    slice of a seeded md5: digest d = md5(d ":" shingle), component =
    min(substr(digest, (i%4)*8+1, 8)). Carving 4 components per digest
    costs one md5 per shingle per 4 components (the different digest bytes
    are independent enough for a minwise family), and min over hex strings
    is bit-identical in any engine with md5 — which is what lets the
    DuckDB oracle replay the sketch exactly.

    Empty shingle sets yield nulls (callers filter before LSH banding).
    Computed with array_min over transform — no explode, no shuffle; both
    the shingle input and each digest array are let-bound so they are
    evaluated once, not once per component (HOF lambdas re-evaluate
    referenced subtrees per element).

    NB: lambdas passed to Spark HOFs must stay unary — arity dispatch
    means a second parameter receives the element index — so seeds and
    offsets are bound via closure factories.
    """
    from tvbigdataproject_spark.functions.text import _bind

    def seeded(prefix: str):
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    def slice_mins(offsets: list[int]):
        def body(digests: Column) -> Column:
            def at(off: int):
                return lambda h: h.substr(F.lit(off), F.lit(_COMP_HEX))

            return F.array(
                *[F.array_min(F.transform(digests, at(off))) for off in offsets]
            )

        return body

    def outer(shs: Column) -> Column:
        groups = []
        n_digests = -(-num_hashes // _COMPS_PER_DIGEST)
        for d in range(n_digests):
            k = min(_COMPS_PER_DIGEST, num_hashes - d * _COMPS_PER_DIGEST)
            offsets = [i * _COMP_HEX + 1 for i in range(k)]
            digests = F.transform(shs, seeded(f"{d}:"))
            groups.append(_bind(digests, slice_mins(offsets)))
        return F.concat(*groups) if len(groups) > 1 else groups[0]

    return _bind(shingle_array, outer)


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Concatenate signature components into band keys:
    array<string> of length ``bands``; band i covers components
    [i*rows_per_band, (i+1)*rows_per_band)."""
    keys = []
    for b in range(bands):
        parts = [
            F.element_at(signature, b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        keys.append(F.concat_ws("|", F.lit(str(b)), *parts))
    return F.array(*keys)
