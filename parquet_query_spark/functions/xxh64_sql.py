"""DuckDB SQL code generator for XXH64 — oracle support for the xxhash64
MinHash fast path.

Spark's ``xxhash64`` (`org.apache.spark.sql.catalyst.expressions.XXH64`,
bit-compatible with the reference C implementation) has no DuckDB
counterpart, which previously left ``dedup_minhash_signatures_fast`` as
the one catalog entry the driver could never hash-verify.  This module
emits a pure-SQL DuckDB expression that computes XXH64 over a string's
UTF-8 bytes — u64 arithmetic on HUGEINT masked to 64 bits, the stripe
loop via ``list_reduce`` over 32-byte stripes, single-use let-bindings
via one-element ``list_transform`` so the generated expression stays
linear in size — so the oracle reproduces Spark's hashes bit-for-bit
and the fast path gets a real CORRECTNESS row.

Semantics replicated (validated against Spark 4.1 in
``tests/test_xxh64_sql.py``):

- ``spark xxhash64(s)``      = XXH64(utf8(s), seed=42)
- ``spark xxhash64(s, 1)``   = hashInt(1, XXH64(utf8(s), 42)) — Spark
  folds multi-argument hashes left-to-right, each value hashed with the
  running hash as seed; an integer literal takes the 4-byte
  ``hashInt`` path, closed-form in the prior hash.

Both return *unsigned* u64 here (HUGEINT); Spark returns the same bits
as a signed long.  Callers that mask to < 63 bits (the MinHash family
masks to 56) see identical values on both engines.
"""

from __future__ import annotations

MASK64 = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261

_HI = 1 << 32  # 2^32, the split point for overflow-safe u64 multiply


def _m(e: str) -> str:
    """Mask an expression to 64 bits (values stay inside INT128)."""
    return f"(({e}) & {MASK64})"


def _let(value: str, var: str, body: str) -> str:
    """Single-use let-binding: evaluate ``value`` once, name it ``var``
    inside ``body`` (one-element list_transform keeps codegen linear)."""
    return f"list_transform([{value}], {var} -> {body})[1]"


def _mul64_const(a: str, c: int) -> str:
    """(a * constant) mod 2^64 — constant limbs folded at generation time."""
    cl, ch = c % _HI, c // _HI
    prod = f"(xa % {_HI}) * {cl} + ((((xa % {_HI}) * {ch} + (xa // {_HI}) * {cl}) % {_HI}) << 32)"
    return _let(a, "xa", _m(prod))


def _rotl(e: str, r: int) -> str:
    """64-bit rotate-left by constant r — the two halves occupy disjoint
    bit ranges so ``+`` is ``|``."""
    return _let(e, "xr", _m(f"((xr << {r}) & {MASK64}) + (xr >> {64 - r})"))


def _xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def _round(acc: str, lane: str) -> str:
    """XXH64 round: rotl31(acc + lane*P2) * P1 (all mod 2^64)."""
    return _mul64_const(_rotl(_m(f"({acc}) + {_mul64_const(lane, P2)}"), 31), P1)


def _fmix(e: str) -> str:
    """Final avalanche."""
    s1 = _let(e, "f1", _mul64_const(_m("xor(f1, f1 >> 33)"), P2))
    s2 = _let(s1, "f2", _mul64_const(_m("xor(f2, f2 >> 29)"), P3))
    return _let(s2, "f3", _m("xor(f3, f3 >> 32)"))


def _u64le(b: str, p: str) -> str:
    """Little-endian u64 from 8 bytes of list ``b`` starting at 1-based
    position ``p`` (sum < 2^64; disjoint byte lanes so + is |)."""
    return "(" + " + ".join(f"({b}[({p}) + {j}] << {8 * j})" for j in range(8)) + ")"


def _u32le(b: str, p: str) -> str:
    return "(" + " + ".join(f"({b}[({p}) + {j}] << {8 * j})" for j in range(4)) + ")"


def xxh64_bytes_sql(bytes_var: str, seed: int) -> str:
    """XXH64 over ``bytes_var`` — a bound SQL variable holding LIST(HUGEINT)
    of unsigned byte values — with a constant seed.  Returns u64 HUGEINT."""
    b = bytes_var
    n = f"len({b})"

    # ── stripe phase (n ≥ 32): list_reduce over 32-byte stripes ──
    stripes = (
        f"list_transform(range(0, {n} // 32), k -> {{"
        f"'v1': {_u64le(b, '32 * k + 1')}, 'v2': {_u64le(b, '32 * k + 9')}, "
        f"'v3': {_u64le(b, '32 * k + 17')}, 'v4': {_u64le(b, '32 * k + 25')}}})"
    )
    init = (
        f"{{'v1': CAST({(seed + P1 + P2) & MASK64} AS HUGEINT), "
        f"'v2': CAST({(seed + P2) & MASK64} AS HUGEINT), "
        f"'v3': CAST({seed & MASK64} AS HUGEINT), "
        f"'v4': CAST({(seed - P1) & MASK64} AS HUGEINT)}}"
    )
    step = (
        f"{{'v1': {_round('ac.v1', 'st.v1')}, 'v2': {_round('ac.v2', 'st.v2')}, "
        f"'v3': {_round('ac.v3', 'st.v3')}, 'v4': {_round('ac.v4', 'st.v4')}}}"
    )
    reduced = f"list_reduce(list_prepend({init}, {stripes}), (ac, st) -> {step})"
    # converge: rotl-sum then 4 merge rounds (acc = (acc ^ round(0, vk)) * P1 + P4)
    conv = _m(
        f"{_rotl('sv.v1', 1)} + {_rotl('sv.v2', 7)} + "
        f"{_rotl('sv.v3', 12)} + {_rotl('sv.v4', 18)}"
    )
    for k in (1, 2, 3, 4):
        conv = _m(_mul64_const(_xor(conv, _round("CAST(0 AS HUGEINT)", f"sv.v{k}")), P1) + f" + {P4}")
    big = _let(reduced, "sv", conv)

    small = f"CAST({(seed + P5) & MASK64} AS HUGEINT)"
    acc0 = f"(CASE WHEN {n} >= 32 THEN {big} ELSE {small} END)"

    # ── length fold + 8-byte tail lanes via list_reduce ──
    acc1 = _m(f"({acc0}) + {n}")
    lanes8 = f"list_transform(range(0, ({n} % 32) // 8), j -> {_u64le(b, f'({n} // 32) * 32 + 8 * j + 1')})"
    tail8_step = _m(
        _mul64_const(_rotl(_xor("a8", _round("CAST(0 AS HUGEINT)", "l8")), 27), P1) + f" + {P4}"
    )
    acc2 = f"list_reduce(list_prepend({acc1}, {lanes8}), (a8, l8) -> {tail8_step})"

    # ── optional 4-byte lane ──
    p4pos = f"(({n} // 8) * 8 + 1)"  # 1-based offset of the 4-byte lane
    has4 = f"({n} % 8) >= 4"
    with4 = _m(
        _mul64_const(_rotl(_xor("a4", _mul64_const(_u32le(b, "pp"), P1)), 23), P2) + f" + {P3}"
    )
    acc3 = _let(
        acc2, "a4", f"(CASE WHEN {has4} THEN {_let(p4pos, 'pp', with4)} ELSE a4 END)"
    )

    # ── byte tail ──
    tailb = f"list_transform(range(({n} // 4) * 4 + 1, {n} + 1), p -> {b}[p])"
    tb_step = _mul64_const(_rotl(_xor("ab", _mul64_const("lb", P5)), 11), P1)
    acc4 = f"list_reduce(list_prepend({acc3}, {tailb}), (ab, lb) -> {tb_step})"

    return _fmix(acc4)


def utf8_bytes_sql(str_expr: str) -> str:
    """LIST(HUGEINT) of the UTF-8 byte values of a string expression."""
    inner = (
        "list_transform(range(1, length(hx) // 2 + 1), i -> "
        "CAST(CAST('0x' || substr(hx, 2 * i - 1, 2) AS BIGINT) AS HUGEINT))"
    )
    return _let(f"hex(encode({str_expr}))", "hx", inner)


def spark_xxhash64_sql(str_expr: str, seed: int = 42) -> str:
    """DuckDB expression for Spark's ``xxhash64(str_expr)`` as u64 HUGEINT."""
    return _let(utf8_bytes_sql(str_expr), "bv", xxh64_bytes_sql("bv", seed))


def hash_int_sql(inp: int, seed_expr: str) -> str:
    """Spark XXH64.hashInt(inp, seed_expr) — the 4-byte closed form used
    when an int argument follows in a multi-argument xxhash64."""
    h0 = _m(f"({seed_expr}) + {(P5 + 4) & MASK64}")
    h1 = _xor(h0, str((inp & 0xFFFFFFFF) * P1 & MASK64))
    h2 = _m(_mul64_const(_rotl(h1, 23), P2) + f" + {P3}")
    return _fmix(h2)


def spark_xxhash64_int1_sql(str_expr: str) -> str:
    """DuckDB expression for Spark's ``xxhash64(str_expr, 1)`` as u64."""
    return _let(spark_xxhash64_sql(str_expr), "hs", hash_int_sql(1, "hs"))


def hash_long_sql(long_expr: str, seed: int = 42) -> str:
    """Spark ``XXH64.hashLong(long_expr, seed)`` — the closed-form 8-byte
    path Spark's ``xxhash64`` takes for a BIGINT column.  No stripe loop:
    one lane round + merge + avalanche.  Returns u64 HUGEINT (negative
    inputs wrap to their two's-complement u64 value, as in Spark)."""
    u = _m(f"CAST(({long_expr}) AS HUGEINT)")
    h0 = f"CAST({(seed + P5 + 8) & MASK64} AS HUGEINT)"
    k1 = _mul64_const(_rotl(_mul64_const(u, P2), 31), P1)
    merged = _m(_mul64_const(_rotl(_xor(h0, k1), 27), P1) + f" + {P4}")
    return _fmix(merged)


def spark_xxhash64_long1_sql(long_expr: str) -> str:
    """DuckDB expression for Spark's ``xxhash64(long_col, 1)`` as u64 —
    hashLong once, then the closed-form int fold."""
    return _let(hash_long_sql(long_expr), "hL", hash_int_sql(1, "hL"))


MASK56 = (1 << 56) - 1


def spark_h12_struct_sql(str_expr: str) -> str:
    """{'h1','h2'} Carter-Wegman halves exactly as the Spark MinHash fast
    path (``operators/dedup.py::dedup_minhash_signatures_fast``):

    - h1 = xxhash64(x) & MASK56
    - h2 = (xxhash64(x, 1) & MASK56) * 2 + 1

    The full byte-stream hash runs ONCE per shingle; h2's second argument
    folds in via the closed-form ``hashInt``."""
    body = (
        f"{{'h1': CAST(hh & {MASK56} AS BIGINT), "
        f"'h2': CAST(({hash_int_sql(1, 'hh')}) & {MASK56} AS BIGINT) * 2 + 1}}"
    )
    return _let(utf8_bytes_sql(str_expr), "bv", _let(xxh64_bytes_sql("bv", 42), "hh", body))
