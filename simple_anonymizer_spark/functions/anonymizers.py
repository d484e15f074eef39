"""Deterministic anonymizers as native Spark column expressions.

Each function mirrors one reference anonymizer (``src/Anonymizer.scala``,
F1-F14 in SURVEY.md §2.8) but is implemented as a ``Column -> Column``
builder over built-in ``pyspark.sql.functions`` — no Python UDFs, so the
whole anonymization pipeline stays inside Tungsten whole-stage codegen and
scales linearly with executor count.

Shared contracts (pinned by tests/test_anonymizers.py):
  * deterministic: same input -> same output, across runs and engines;
  * null/empty-preserving: ``null -> null``, ``"" -> ""`` (the transform is
    never applied), mirroring ``Anonymizer.scala:66-67``;
  * one-way: outputs derive only from ``stable_hash`` of the input.

``register_all(spark)`` exposes every anonymizer to ``spark.sql`` as
``anon_*`` functions.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from . import data_lists as d
from .hashing import _as_col, _raw_hash, select_by_hash, stable_hash

__all__ = [
    "stable_hash", "first_name", "male_first_name", "female_first_name",
    "last_name", "state", "state_abbr", "country", "full_name", "email",
    "phone_number", "street_address", "city", "zip_code", "redact",
    "partial_redact", "lorem_text", "register_all", "ANONYMIZERS",
]


def _preserving(builder):
    """Wrap a Column->Column body with the null/empty passthrough guard."""

    @functools.wraps(builder)
    def wrapped(col: Column | str, *args, **kwargs) -> Column:
        c = _as_col(col)
        return (
            F.when(c.isNull() | (c == F.lit("")), c)
            .otherwise(builder(c, *args, **kwargs))
        )

    return wrapped


def _list_anonymizer(values: list[str]):
    @_preserving
    def anon(c: Column) -> Column:
        return select_by_hash(c, values)

    return anon


# List-based anonymizers (Anonymizer.scala:74-81).
first_name = _list_anonymizer(d.FIRST_NAMES)
male_first_name = _list_anonymizer(d.MALE_FIRST_NAMES)
female_first_name = _list_anonymizer(d.FEMALE_FIRST_NAMES)
last_name = _list_anonymizer(d.LAST_NAMES)
state = _list_anonymizer(d.STATES)
state_abbr = _list_anonymizer(d.STATE_ABBRS)
country = _list_anonymizer(d.COUNTRIES)


@_preserving
def full_name(c: Column) -> Column:
    """``first(h(s)) + " " + last(h(s + "_last"))`` (Anonymizer.scala:84-91)."""
    return F.concat_ws(
        " ",
        select_by_hash(c, d.FIRST_NAMES),
        select_by_hash(c, d.LAST_NAMES, salt="_last"),
    )


@_preserving
def email(c: Column) -> Column:
    """``lower(first).lower(last)@domains[h(s+"_domain")%4]`` (Anonymizer.scala:94-104)."""
    return F.concat(
        F.lower(select_by_hash(c, d.FIRST_NAMES)),
        F.lit("."),
        F.lower(select_by_hash(c, d.LAST_NAMES, salt="_last")),
        F.lit("@"),
        select_by_hash(c, d.EMAIL_DOMAINS, salt="_domain"),
    )


@_preserving
def phone_number(c: Column) -> Column:
    """Ten digits ``d_i = ((h >> i) & 0xF) % 10`` formatted ``(ddd) ddd-dddd``
    (Anonymizer.scala:107-114; ``i % 30 == i`` for i < 10)."""
    h = _raw_hash(c)

    def digit(i: int) -> Column:
        return F.pmod(F.shiftright(h, i).bitwiseAND(F.lit(0xF)), F.lit(10))

    return F.format_string(
        "(%d%d%d) %d%d%d-%d%d%d%d", *[digit(i) for i in range(10)]
    )


@_preserving
def street_address(c: Column) -> Column:
    """``(h%9999)+1 <last(h(s+"_street"))> <suffix(h(s+"_suffix"))>``
    (Anonymizer.scala:117-126)."""
    number = F.pmod(_raw_hash(c), F.lit(9999)) + F.lit(1)
    return F.concat_ws(
        " ",
        number.cast("string"),
        select_by_hash(c, d.LAST_NAMES, salt="_street"),
        select_by_hash(c, d.STREET_SUFFIXES, salt="_suffix"),
    )


@_preserving
def city(c: Column) -> Column:
    """``last(h(s)) ++ citySuffix(h(s+"_suffix"))`` — no space (Anonymizer.scala:129-136)."""
    return F.concat(
        select_by_hash(c, d.LAST_NAMES),
        select_by_hash(c, d.CITY_SUFFIXES, salt="_suffix"),
    )


@_preserving
def zip_code(c: Column) -> Column:
    """``%05d`` of ``(h % 90000) + 10000`` (Anonymizer.scala:139-145)."""
    return F.format_string("%05d", F.pmod(_raw_hash(c), F.lit(90000)) + F.lit(10000))


@_preserving
def redact(c: Column) -> Column:
    """``"*" * len(s)`` (Anonymizer.scala:148-151)."""
    return F.repeat(F.lit("*"), F.length(c))


def partial_redact(col: Column | str, show_first: int = 2, show_last: int = 2) -> Column:
    """Keep first/last N chars, mask the middle; fully mask short strings
    (Anonymizer.scala:154-165)."""
    c = _as_col(col)
    n = F.length(c)
    full_mask = F.repeat(F.lit("*"), n)
    partial = F.concat(
        F.substring(c, 1, show_first),
        F.repeat(F.lit("*"), n - F.lit(show_first + show_last)),
        c.substr(n - F.lit(show_last - 1), F.lit(show_last)),
    )
    return (
        F.when(c.isNull() | (c == F.lit("")), c)
        .when(n <= F.lit(show_first + show_last), full_mask)
        .otherwise(partial)
    )


@_preserving
def lorem_text(c: Column) -> Column:
    """Lorem words starting at index ``h(s)`` into the 19-word list,
    space-joined, truncated to ``len(s)`` (Anonymizer.scala:168-207).

    Native-expression plan: the shortest lorem word is 2 chars, so
    ``floor((len+1)/3) + 1`` words always reach ``len`` chars once
    space-joined; generate exactly that many via ``sequence``/``transform``
    (codegen'd, no UDF), join, and truncate. Index arithmetic is 64-bit, so
    unlike the reference there is no Int overflow for huge inputs.
    """
    h = _raw_hash(c)
    n = F.length(c)
    n_words = (F.floor((n + F.lit(1)) / F.lit(3)) + F.lit(1)).cast("int")
    lorem = F.array(*[F.lit(w) for w in d.LOREM_WORDS])
    words = F.transform(
        F.sequence(F.lit(0), n_words - F.lit(1)),
        lambda j: F.element_at(
            lorem, F.pmod(h + j.cast("long"), F.lit(len(d.LOREM_WORDS))).cast("int") + F.lit(1)
        ),
    )
    return F.substring(F.array_join(words, " "), 1, n)


# name -> zero-config Column->Column callable (parameterized ones excluded).
ANONYMIZERS: dict[str, object] = {
    "stable_hash": stable_hash,
    "first_name": first_name,
    "male_first_name": male_first_name,
    "female_first_name": female_first_name,
    "last_name": last_name,
    "state": state,
    "state_abbr": state_abbr,
    "country": country,
    "full_name": full_name,
    "email": email,
    "phone_number": phone_number,
    "street_address": street_address,
    "city": city,
    "zip_code": zip_code,
    "redact": redact,
    "lorem_text": lorem_text,
}


def register_all(spark: SparkSession, prefix: str = "anon_") -> None:
    """Register every anonymizer for ``spark.sql`` use as SQL scalar
    functions (``CREATE TEMPORARY FUNCTION ... RETURN <native expr>``).

    The function body is the same expression the Column builders above
    produce, rendered as Spark SQL text (``sparksql.py``) and inlined into
    the calling query at analysis time — so SQL users get whole-stage
    codegen, identical values, and identical plans to DataFrame users.
    No Python UDF is involved (plan-shape pinned by
    ``tests/test_types_registration.py``)."""
    from . import sparksql

    sparksql.register_all(spark, prefix)


def shift_timestamp(
    ts: Column | str, entity: Column | str, max_days: int = 180
) -> Column:
    """Consistent per-entity date shifting: every timestamp belonging to
    one entity moves by the SAME stable-hash-derived whole-day offset in
    ``[-max_days, +max_days]`` — so intra-entity intervals, orderings,
    and day-of-week-ish structure survive while absolute dates unlink
    from the original record (the standard HIPAA-style date-shift
    de-identification). A null entity or null timestamp yields NULL
    (md5(NULL) is NULL in both engines — same convention). Returns
    epoch MICROSECONDS (int64), the engine's cross-engine timestamp
    emission rule.
    """
    t = _as_col(ts) if isinstance(ts, str) else ts
    e = _as_col(entity) if isinstance(entity, str) else entity
    span = 2 * max_days + 1
    offset_days = (
        F.pmod(_raw_hash(e.cast("string")), F.lit(span)) - F.lit(max_days)
    ).cast("long")
    return (
        F.unix_micros(t.cast("timestamp"))
        + offset_days * F.lit(86_400_000_000)
    ).cast("long")


@_preserving
def account_number(c: Column) -> Column:
    """Luhn-valid 12-digit synthetic account number: 11 payload digits
    from two salted hash bit-extractions (the phone_number digit kernel,
    doubled for entropy) plus the computed Luhn check digit — output
    passes the same mod-10 validation real card/account validators run,
    so anonymized data keeps flowing through format-checking pipelines.

    The Luhn sum doubles every second payload digit from the right
    (subtracting 9 above 9) — all int arithmetic, mirrored digit-for-
    digit in the DuckDB oracle.
    """
    h1 = _raw_hash(c)
    h2 = _raw_hash(F.concat(c, F.lit("_acct2")))

    def digit(h: Column, i: int) -> Column:
        return F.pmod(F.shiftright(h, i).bitwiseAND(F.lit(0xF)), F.lit(10))

    payload = [digit(h1, i) for i in range(6)] + \
              [digit(h2, i) for i in range(5)]
    # position from the right within the payload: rightmost is doubled
    total = F.lit(0)
    for pos_from_right, dcol in enumerate(reversed(payload)):
        if pos_from_right % 2 == 0:
            doubled = dcol * 2
            term = F.when(doubled > 9, doubled - 9).otherwise(doubled)
        else:
            term = dcol
        total = total + term
    check = F.pmod(F.lit(10) - F.pmod(total, F.lit(10)), F.lit(10))
    return F.concat_ws(
        "", *[p.cast("string") for p in payload], check.cast("string")
    )


def prefix_preserving_ip(ip: Column | str, salt: str = "ip") -> Column:
    """Prefix-preserving IPv4 anonymization (the Crypto-PAn property,
    Xu et al. 2002): two addresses sharing a k-bit prefix anonymize to
    addresses sharing EXACTLY a k-bit prefix — subnet structure survives
    for network analytics while addresses unlink.

    Mechanism: bit i (MSB-first) flips by ``hash(salt, i, the i-bit
    prefix VALUE) & 1`` — the flip depends only on the prefix, so equal
    prefixes flip equally (prefix preserved) and the first differing
    bit stays differing (no collisions beyond the real shared prefix).
    32 chained MD5 terms per row, all whole-stage codegen; input is the
    address as int64 in [0, 2^32). NULL passes through.
    """
    c = _as_col(ip) if isinstance(ip, str) else ip
    out = F.lit(0).cast("long")
    for i in range(32):
        # i-bit prefix value (0 for i == 0), MSB-first
        prefix = F.shiftrightunsigned(c, 32 - i) if i > 0 else F.lit(0).cast("long")
        key = F.concat(
            F.lit(f"{salt}:{i}:"), prefix.cast("string")
        )
        flip = _raw_hash(key).bitwiseAND(F.lit(1))
        orig = F.shiftrightunsigned(c, 31 - i).bitwiseAND(F.lit(1))
        out = out + F.shiftleft(orig.bitwiseXOR(flip), 31 - i)
    return F.when(c.isNull(), F.lit(None).cast("long")).otherwise(out)


# -- format-preserving encryption (digit strings) ----------------------------

#: 10^1 .. 10^9 — element_at(_POW10, m) = 10^m without double-typed pow().
_POW10 = [10 ** k for k in range(1, 10)]


def _fpe_prf(key: str, tweak: Column, rnd: int, half: Column) -> Column:
    """Per-round Feistel PRF: the first 12 hex digits of
    ``md5(key : tweak : round : half)`` as an exact bigint (< 2^48 — the
    48-bit value the DuckDB mirror reproduces digit-by-digit)."""
    msg = F.concat(F.lit(f"{key}:"), tweak, F.lit(f":{rnd}:"), half)
    return F.conv(F.substring(F.md5(msg), 1, 12), 16, 10).cast("long")


def fpe_digits(
    df: DataFrame,
    input_col: str,
    output_col: str,
    key: str,
    rounds: int = 8,
    decrypt: bool = False,
    tweak_col: str | None = None,
) -> DataFrame:
    """Format-preserving encryption of digit strings (the FF1-shaped
    alternating Feistel construction, NIST SP 800-38G's public shape,
    with the repo's md5 kernel as the round function): a 16-digit card
    number encrypts to another 16-digit string, deterministically under
    ``key``, and ``decrypt=True`` inverts it exactly — the reversible
    sibling of ``luhn_account_number`` (reference anonymizer family,
    ``src/Anonymizer.scala:27-36``) for pipelines that must re-identify
    under key custody (pseudonymization, GDPR art. 4(5)).

    Documented subset: inputs matching ``^[0-9]{4,18}$`` transform;
    anything else (wrong alphabet, too short/long, NULL) yields NULL —
    fail-closed, a malformed PAN never passes through in the clear.
    Length is preserved and doubles as the default tweak (domain
    separation per length; ``tweak_col`` adds caller context, e.g. a
    tenant id). Not certified cryptography — the anonymizer-grade
    determinism tier of ``prefix_preserving_ip``.

    Plan shape: ONE narrow Project per round (a select chain, linear
    plan growth — Catalyst keeps non-cheap md5 expressions un-inlined
    across projects, and whole-stage codegen fuses the chain into one
    pass with true subexpression reuse; the Column-nesting alternative
    duplicates subtrees Fibonacci-fashion). Map-only at any scale.
    """
    if not 1 <= rounds <= 16:
        raise ValueError(f"rounds must be in [1, 16], got {rounds}")
    pow10 = F.array(*[F.lit(p).cast("long") for p in _POW10])
    src = F.col(input_col)
    ok = src.rlike(r"^[0-9]{4,18}$")
    n = F.length(src)
    u = (n / 2).cast("int")
    base_tweak = n.cast("string")
    tweak = (
        F.concat(base_tweak, F.lit("|"), F.col(tweak_col).cast("string"))
        if tweak_col else base_tweak
    )
    # state columns: __fpe_a / __fpe_b (NULL rows ride along as NULL).
    # Encrypt splits at u; decrypt must split at the ENCRYPT-FINAL
    # half length — u for an even round count, v for odd (each round
    # swaps the halves' lengths).
    v = (n - u).cast("int")
    cut = v if (decrypt and rounds % 2 == 1) else u
    out = df.withColumns({
        "__fpe_ok": ok,
        "__fpe_tw": tweak,
        "__fpe_u": u,
        "__fpe_v": v,
        "__fpe_a": F.when(ok, F.substring(src, F.lit(1), cut)),
        "__fpe_b": F.when(ok, F.substring(src, cut + 1, n - cut)),
    })
    a, b = F.col("__fpe_a"), F.col("__fpe_b")
    tw, uc, vc = F.col("__fpe_tw"), F.col("__fpe_u"), F.col("__fpe_v")
    schedule = range(rounds - 1, -1, -1) if decrypt else range(rounds)
    for i in schedule:
        m = F.when(F.lit(i % 2 == 0), uc).otherwise(vc)
        # clamp to [1, 9]: non-conforming rows (n < 4 or n > 18) are
        # already forced NULL, but element_at must not see an index
        # outside the literal array
        mod = F.element_at(
            pow10, F.greatest(F.least(m, F.lit(9)), F.lit(1)))
        if decrypt:
            c = F.pmod(b.cast("long") - _fpe_prf(key, tw, i, a), mod)
            step = {"__fpe_a": F.lpad(c.cast("string"), m, "0"),
                    "__fpe_b": a}
        else:
            c = F.pmod(a.cast("long") + _fpe_prf(key, tw, i, b), mod)
            step = {"__fpe_a": b,
                    "__fpe_b": F.lpad(c.cast("string"), m, "0")}
        out = out.withColumns(step)
    return out.withColumn(
        output_col, F.when(F.col("__fpe_ok"), F.concat(a, b))
    ).drop("__fpe_ok", "__fpe_tw", "__fpe_u", "__fpe_v",
           "__fpe_a", "__fpe_b")
