"""Native text building blocks shared by dedup / similarity / analysis.

Everything here is pure ``pyspark.sql.functions`` column algebra — shingling,
tokenization, and salted hashing stay inside whole-stage codegen so the
training-data pipeline operators scale linearly. The salted hash reuses the
engine's MD5 ``stable_hash`` kernel, so DuckDB oracles can replicate every
value exactly (see ``oracle/duck.py`` / ``oracle/queries.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import _as_col, _raw_hash


def salted_hash(c: Column, salt: str) -> Column:
    """``stable_hash(value + salt)`` without the null/empty guard."""
    return _raw_hash(F.concat(c, F.lit(salt)))


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-grams; texts shorter than ``k`` yield the whole
    text as a single shingle. First-occurrence order (order is irrelevant
    downstream — only set semantics are used)."""
    c = _as_col(col)
    n = F.length(c)
    positions = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    grams = F.transform(positions, lambda i: F.substring(c, i, k))
    return F.array_distinct(F.filter(grams, lambda g: g != F.lit("")))


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens, empties removed (leading/trailing
    whitespace would otherwise produce '' entries)."""
    c = _as_col(col)
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != F.lit(""))


def adjacent_pairs(arr: Column, pair_fn, empty_type: str) -> Column:
    """Adjacent-element pairs of ``arr`` via ``pair_fn(x, y)``, with the
    array bound ONCE as a lambda leaf (the one-element-array transform).

    The naive ``when(size(arr) >= 2, zip_with(slice(arr, 1, n-1),
    slice(arr, 2, n-1), ...))`` form references ``arr`` FIVE times;
    higher-order-function expressions evaluate interpreted (outside
    whole-stage codegen), where no subexpression elimination runs, so a
    non-trivial ``arr`` (a tokenize split, an accumulated merge fold) was
    re-evaluated five times per row (r13; the CLAUDE.md expression-count
    trap). ``empty_type`` is the pair array's DDL type for the
    under-two-elements branch. Output arrays are byte-identical to the
    naive form."""
    return F.transform(
        F.array(arr),
        lambda t: F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                pair_fn,
            ),
        ).otherwise(F.array().cast(empty_type)),
    )[0]


MERSENNE_31 = 2147483647


def minhash_permutations(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants ``(a_i, b_i)`` derived
    from the engine's own hash kernel (odd ``a``). Shared with the DuckDB
    oracle so signatures replicate exactly."""
    from . import pyimpl

    return [
        (pyimpl.stable_hash(f"minhash_a_{i}") | 1, pyimpl.stable_hash(f"minhash_b_{i}"))
        for i in range(num_hashes)
    ]


def element_hashes(elements: Column) -> Column:
    """One MD5 ``stable_hash`` per array element — the single expensive
    pass that MinHash/SimHash signatures derive from."""
    return F.transform(elements, lambda s: _raw_hash(s))


def minhash_signature(shingle_hashes: Column, num_hashes: int = 8) -> Column:
    """MinHash signature over pre-hashed shingles: ``min((a_i*h + b_i) mod
    2^31-1)`` per permutation. One MD5 per shingle total (not per salt) —
    the permutations are integer-only. Returns ``array<bigint>``."""

    def permuter(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)

    return F.array(*[
        F.array_min(F.transform(shingle_hashes, permuter(a, b)))
        for a, b in minhash_permutations(num_hashes)
    ])


def simhash(token_hashes: Column, bits: int = 32) -> Column:
    """SimHash over pre-hashed tokens (see ``element_hashes``): bit ``i``
    is set iff the sum over tokens of ``±1`` (``+1`` when bit ``i`` of the
    token hash is set) is positive. One MD5 per token total; a SINGLE fold
    carries an array<long> of per-bit sums (32 separate aggregates
    produced a pathologically large expression tree). Pure integer math —
    bit-stable across engines."""
    pow_arr = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    bit_sums = F.aggregate(
        token_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc, pow_arr,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    contribs = F.zip_with(
        bit_sums, pow_arr,
        lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(contribs, F.lit(0).cast("long"), lambda a, v: a + v)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) arrays as a double.
    Integer sizes divided — bit-identical across engines.

    The intersection size is bound as a lambda-variable LEAF: jaccard
    lands in join conditions and filters, where the numerator/denominator
    double reference would otherwise evaluate ``array_intersect`` (the
    expensive part — O(|a|+|b|) with string hashing) twice per candidate
    pair (join conditions get no codegen subexpression elimination)."""
    total = F.size(a) + F.size(b)
    return F.transform(
        F.array(F.size(F.array_intersect(a, b))),
        lambda i: i.cast("double") / (total - i).cast("double"),
    )[0]
