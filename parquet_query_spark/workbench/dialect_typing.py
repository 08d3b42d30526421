"""Dialect shim: operator & literal pack + numeric typing passes
(// and div dispatch, int-cast rounding, ducktype numerics); see
dialect.py for the pass pipeline."""

from __future__ import annotations

import re

from parquet_query_spark.workbench.dialect_core import (
    _ARRAYISH_BASE,
    _BRACKET_NEVER_CALL_KEYWORDS,
    _BRACKET_NONLITERAL_KEYWORDS,
    COMMENT,
    DOLLAR,
    STRING,
    _brackets,
    _code_mask,
    _enclosing,
    _keyword_matches,
    _lex,
    _map_tokens,
    _match,
    _rewrite_calls,
    _series_body,
    _split_call_args,
    _split_top,
    _top_colons,
)


# ── operator & literal dialect pack (round 7) ────────────────────────────
#
# DuckDB operator spellings whose Spark readings are missing or — worse —
# silently different:
#   - ``$$...$$`` / ``$tag$...$tag$`` dollar-quoted strings → standard
#     single-quoted literals (rewritten FIRST, so every later pass sees
#     Spark's one string spelling).
#   - ``1_000_000`` digit-group underscores → stripped (Spark rejects).
#   - ``a // b`` → ``a div b`` here; the outermost division pass then
#     turns every ``div`` chain into the zero-guarded typeof-dispatched
#     form (truncate for integral leaves, plain division otherwise —
#     DuckDB's actual polymorphism, probed: 7.5 // 2 = 3.75).
#   - ``a ^ b`` / ``a ** b`` → ``power(a, b)``.  In Spark ``^`` is bitwise
#     XOR — ``2 ^ 3`` = 1 vs DuckDB's 8.0, a silent wrong answer for a
#     DuckDB-habituated user.  DuckDB semantics pinned empirically:
#     left-associative (2^3^2 = 64), tighter than ``*`` (2*3^2 = 18),
#     unary minus binds tighter still (-2^2 = 4).  DuckDB spells XOR as
#     the ``xor()`` function, which passes through untouched.
#   - ``a ^@ b`` → ``startswith(a, b)``.
#   - ``x [NOT] SIMILAR TO p`` → anchored RLIKE (DuckDB: full-match regex).
#   - ``{'k': v, ...}`` struct literals → ``named_struct``; ``MAP {k: v}``
#     → ``map(...)``.
#   - FROM-position ``generate_series(...)`` / ``range(...)`` table
#     functions → exploded ``sequence`` subqueries with DuckDB's exact
#     column names, inclusive/exclusive bounds, empty-range and
#     wrong-direction-error behavior (all pinned by probes: range(0) = [],
#     range(-1) errors, generate_series(5,1) errors, range end exclusive).


def _rewrite_dollar_strings(sql: str) -> str:
    """``$$it's$$`` / ``$tag$...$tag$`` → ``'it''s'``."""
    if "$" not in sql:
        return sql

    def single_quoted(token: str) -> str:
        tag = token[: token.index("$", 1) + 1]
        return "'" + token[len(tag) : -len(tag)].replace("'", "''") + "'"

    return _map_tokens(sql, DOLLAR, single_quoted)


def _rewrite_literal_backslashes(sql: str) -> str:
    """Double every backslash inside single-quoted literals.

    DuckDB reads standard-SQL strings RAW (``'\\d+'`` is backslash-d-plus)
    while Spark C-unescapes them (``'\\d+'`` becomes ``d+`` — silently
    breaking every regex a DuckDB user types; found when
    ``regexp_extract('ab12', '([a-z]+)(\\d+)', 2)`` returned ``''``).
    Doubling restores the raw reading after Spark's unescape, and
    neutralizes every other C escape (\\n, \\t, \\u...) the same way.
    Runs innermost, right after dollar-string conversion, so every later
    pass sees Spark-ready literals."""
    if "\\" not in sql:
        return sql
    return _map_tokens(sql, STRING, lambda lit: lit.replace("\\", "\\\\"))


_NUM_UNDERSCORE = re.compile(
    r"(?<![\w$.])\d[\d_]*(?:\.[\d_]+)?(?:[eE][+-]?\d[\d_]*)?(?![\w$])"
)


def _rewrite_numeric_underscores(sql: str) -> str:
    if "_" not in sql:
        return sql
    mask = _code_mask(sql)
    repls: list[tuple[int, int, str]] = []
    for m in _NUM_UNDERSCORE.finditer(sql):
        tok = m.group(0)
        if "_" not in tok or not all(mask[m.start() : m.end()]):
            continue
        # DuckDB rule: every underscore sits between two digits
        if all(
            i > 0 and tok[i - 1].isdigit() and i + 1 < len(tok) and tok[i + 1].isdigit()
            for i, c in enumerate(tok)
            if c == "_"
        ):
            repls.append((m.start(), m.end(), tok.replace("_", "")))
    for s, e, new in reversed(repls):
        sql = sql[:s] + new + sql[e:]
    return sql


_BARE_VARCHAR = re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE)
_JSON_CAST = re.compile(r"(::\s*|\bAS\s+)JSON\b(?=\s*[),]|\s*$|\s)", re.IGNORECASE)
# DuckDB BLOB/BYTEA → Spark BINARY, same cast positions as JSON
_BLOB_CAST = re.compile(
    r"(::\s*|\bAS\s+)(BLOB|BYTEA)\b(?=\s*[),]|\s*$|\s)", re.IGNORECASE
)
# DuckDB unsigned integer types → the next-wider signed Spark type (the
# VALUES are always representable; only typeof's rendering differs).
# UBIGINT/UHUGEINT need DECIMAL since Spark's widest integer is signed.
_UNSIGNED_CAST = re.compile(
    r"(::\s*|\bAS\s+)(UTINYINT|USMALLINT|UINTEGER|UBIGINT|UHUGEINT)"
    r"\b(?=\s*[),]|\s*$|\s)",
    re.IGNORECASE,
)
_UNSIGNED_MAP = {
    "utinyint": "SMALLINT",
    "usmallint": "INTEGER",
    "uinteger": "BIGINT",
    "ubigint": "DECIMAL(20,0)",
    "uhugeint": "DECIMAL(38,0)",
}


_BLOB_LITERAL = re.compile(
    r"'((?:[\x20-\x26\x28-\x5B\x5D-\x7E]|''|\\\\x[0-9A-Fa-f]{2})*)'"
    r"\s*::\s*(?:BLOB|BYTEA)\b",
    re.IGNORECASE,
)


def _rewrite_blob_literal(sql: str) -> str:
    """DuckDB blob literals ``'\\xAA\\x01'::BLOB`` — ``\\xNN`` escapes
    decode to bytes, plain ASCII chars to their bytes (probed r9; Spark
    would cast the ESCAPE TEXT to binary).  Rewritten to
    ``unhex('<hex>')``.  Runs after the raw-string pass, so the literal
    body carries doubled backslashes.  Literals with characters outside
    printable ASCII + ``\\x`` escapes are left to the plain BINARY
    cast."""
    if "::" not in sql or "\\" not in sql:
        return sql
    out = sql
    while True:
        mask = _code_mask(out)
        m = next(
            (
                c
                for c in _BLOB_LITERAL.finditer(out)
                if "\\\\x" in c.group(1)
                # the opening quote is non-code; everything after must
                # not sit inside a DIFFERENT string
                and mask[c.end() - 1]
            ),
            None,
        )
        if m is None:
            return out
        body = m.group(1)
        buf = bytearray()
        i = 0
        while i < len(body):
            if body.startswith("\\\\x", i):
                buf.append(int(body[i + 3 : i + 5], 16))
                i += 5
            elif body.startswith("''", i):
                buf.append(0x27)
                i += 2
            else:
                buf.append(ord(body[i]))
                i += 1
        out = out[: m.start()] + f"unhex('{buf.hex().upper()}')" + out[m.end() :]


def _rewrite_bare_varchar(sql: str) -> str:
    """DuckDB's length-free ``VARCHAR`` (its canonical string type, in
    DDL and ``::VARCHAR`` casts) → Spark ``STRING`` — Spark rejects
    VARCHAR without a length (``VARCHAR(n)`` passes through).  The
    ``JSON`` type in cast position (``::JSON`` / ``CAST(x AS JSON)``)
    also becomes STRING: Spark has no JSON type; its JSON functions
    operate on strings."""
    sql = _rewrite_blob_literal(sql)
    mask = _code_mask(sql)
    repls = [
        (m.start(), m.end(), "STRING")
        for m in _BARE_VARCHAR.finditer(sql)
        if all(mask[i] for i in range(m.start(), m.end()))
    ] + [
        (m.end() - 4, m.end(), "STRING")
        for m in _JSON_CAST.finditer(sql)
        if all(mask[i] for i in range(m.start(), m.end()))
        and (m.group(1).startswith("::") or _looks_like_cast(sql, m.start()))
    ] + [
        (m.start(2), m.end(), "BINARY")
        for m in _BLOB_CAST.finditer(sql)
        if all(mask[i] for i in range(m.start(), m.end()))
        and (m.group(1).startswith("::") or _looks_like_cast(sql, m.start()))
    ] + [
        (m.start(2), m.end(), _UNSIGNED_MAP[m.group(2).lower()])
        for m in _UNSIGNED_CAST.finditer(sql)
        if all(mask[i] for i in range(m.start(), m.end()))
        and (m.group(1).startswith("::") or _looks_like_cast(sql, m.start()))
    ]
    for s_, e_, rep in sorted(repls, reverse=True):
        sql = sql[:s_] + rep + sql[e_:]
    return sql


def _looks_like_cast(sql: str, pos: int) -> bool:
    # ``AS JSON`` only counts inside a CAST/TRY_CAST call — an alias
    # named json must survive
    i = _enclosing(sql, pos)
    if i is None or sql[i] != "(":
        return False
    k = i - 1
    while k >= 0 and (sql[k].isalnum() or sql[k] in "_$"):
        k -= 1
    return sql[k + 1 : i].lower() in ("cast", "try_cast")


# ── CAST to integer: DuckDB ROUNDS, Spark truncates ─────────────────────
#
# Probed: ``CAST(2.5 AS BIGINT)`` / ``2.5::BIGINT`` → 3 in DuckDB
# (half-away-from-zero, ``-2.5`` → -3) while Spark truncates to 2 — a
# silent wrong answer on any fractional value (playbook trap 7, fuzz
# r8).  Each integer-typed cast dispatches on runtime typeof: fractional
# inputs round half-away via the floor formula computed in DOUBLE (the
# explicit DOUBLE cast keeps the THEN branch analyzable for string
# operands; decimals above 2^53 lose exactness there — accepted edge),
# everything else keeps the plain cast.

_CAST_INT_TYPES = frozenset(
    "bigint integer int int1 int2 int4 int8 smallint tinyint signed".split()
)
_CAST_CALL_RE = re.compile(r"\b(TRY_CAST|CAST)\s*\(", re.IGNORECASE)
_COLON_INT_RE = re.compile(
    r"::\s*(BIGINT|INTEGER|INT[1248]?|SMALLINT|TINYINT|SIGNED)(?![\w$(])",
    re.IGNORECASE,
)


def _split_top_as(text: str) -> tuple[str, str] | None:
    """Split ``operand AS type`` on the LAST top-level ``AS``."""
    mask = _code_mask(text)
    depth = _brackets(text).depth
    best = None
    for m in re.finditer(r"(?<![\w$])AS(?![\w$])", text, re.IGNORECASE):
        i = m.start()
        if all(mask[i : i + 2]) and depth[i] == 0:
            best = i
    if best is None:
        return None
    return text[:best], text[best + 2 :]


_DUCKTYPE_WRAP_FN = re.compile(r"(round|ceil|ceiling|floor)\s*\(", re.IGNORECASE)


def _ducktype_wrap_arg(x: str) -> str | None:
    """If ``x`` is exactly the ducktype pass's emitted wrap —
    ``CAST(round|ceil|ceiling|floor(...) AS DOUBLE)``, possibly under
    unary minus / extra parens — return the wrapped call's FIRST
    argument.  The wrap exists to give the call DuckDB's DOUBLE static
    type for ``//`` dispatch, but it erases the decimal-vs-double
    distinction an integer CAST's rounding mode depends on; the
    pre-wrap argument type recovers it (fuzz r8 seed 25259)."""
    t = _strip_outer_parens(x.strip())
    while t.startswith("-"):
        t = _strip_outer_parens(t[1:].strip())
    parts = _case_parts(t)
    if parts is not None:
        # _duckdb_round's emitted dispatch: THEN is the binary-rounding
        # half formula (starts with the isnan guard), ELSE is the
        # decimal-path wrap — recurse into the ELSE branch
        conds, results = parts
        if (
            len(results) == 2
            and results[0].lstrip("(").startswith("CASE WHEN isnan(")
        ):
            return _ducktype_wrap_arg(results[1])
        return None
    if not re.match(r"CAST\s*\(", t, re.IGNORECASE):
        return None
    cast_open = t.index("(")
    if _match(t, cast_open) != len(t) - 1:
        return None
    split = _split_top_as(t[cast_open + 1 : -1])
    if split is None or split[1].strip().upper() != "DOUBLE":
        return None
    inner = split[0].strip()
    m = _DUCKTYPE_WRAP_FN.match(inner)
    if not m:
        return None
    iopen = inner.index("(", m.end() - 1)
    if _match(inner, iopen) != len(inner) - 1:
        return None
    return _split_top(inner[iopen + 1 : -1])[0].strip()


def _int_cast_emit(fn: str, x: str, T: str) -> str:
    # DECIMAL → int rounds HALF AWAY FROM ZERO (probed: CAST(0.5 AS INT)
    # = 1, CAST(-2.5 AS INT) = -3); DOUBLE/FLOAT → int rounds HALF TO
    # EVEN (probed: CAST(2.5::DOUBLE AS INT) = 2, 3.5 → 4, -2.5 → -2 —
    # std::nearbyint), which Spark bround matches.
    xd = f"CAST(({x}) AS DOUBLE)"
    away = (
        f"(CASE WHEN {xd} < 0 THEN -floor(0.5 - {xd}) "
        f"ELSE floor({xd} + 0.5) END)"
    )
    wrap_arg = _ducktype_wrap_arg(x)
    if wrap_arg is not None:
        # DuckDB round(decimal) stays DECIMAL (half-away on int cast);
        # every other input rounds to DOUBLE (half-even).  ceil/floor
        # yield integral values, so either mode is exact for them.
        return (
            f"(CASE WHEN typeof(({wrap_arg})) LIKE 'decimal%' "
            f"THEN {fn}({away} AS {T}) "
            f"ELSE {fn}(bround({xd}) AS {T}) END)"
        )
    return (
        f"(CASE WHEN typeof(({x})) IN ('double', 'float') "
        f"THEN {fn}(bround({xd}) AS {T}) "
        f"WHEN typeof(({x})) LIKE 'decimal%' "
        f"THEN {fn}({away} AS {T}) "
        f"ELSE {fn}(({x}) AS {T}) END)"
    )


def _rewrite_int_casts(sql: str) -> str:
    # CAST/TRY_CAST(x AS <int>) — innermost-first via recursion on the
    # operand; the scan cursor jumps past each emission so the plain-cast
    # ELSE branch is never re-captured (trap 31)
    out = sql
    pos = 0
    for _ in range(400):  # safety cap
        mask = _code_mask(out)
        m = next(
            (
                c
                for c in _CAST_CALL_RE.finditer(out, pos)
                if all(mask[i] for i in range(c.start(), c.end()))
            ),
            None,
        )
        if m is None:
            break
        close = _match(out, m.end() - 1)
        if close is None:
            pos = m.end()
            continue
        split = _split_top_as(out[m.end() : close])
        if split is None:
            pos = m.end()
            continue
        x, T = split
        if T.strip().lower() not in _CAST_INT_TYPES:
            pos = m.end()
            continue
        if x.strip().lower().startswith("try_divide"):
            # the // pass (which runs earlier) emits CAST(try_divide(..)
            # AS BIGINT) for its TRUNCATING integer branch — rounding it
            # would break integer division
            pos = m.end()
            continue
        rep = _int_cast_emit(
            m.group(1).upper(), _rewrite_int_casts(x.strip()), T.strip()
        )
        out = out[: m.start()] + rep + out[close + 1 :]
        pos = m.start() + len(rep)
    # x::<int> — the left operand (already cast-processed above) rounds
    # the same way; chains fold left because the cursor resumes after
    # each emission
    pos = 0
    for _ in range(400):
        mask = _code_mask(out)
        m = next(
            (
                c
                for c in _COLON_INT_RE.finditer(out, pos)
                if all(mask[i] for i in range(c.start(), c.start() + 2))
            ),
            None,
        )
        if m is None:
            break
        ls = _left_operand_start(out, mask, m.start())
        if ls is None:
            pos = m.end()
            continue
        x = out[ls : m.start()].strip()
        if not x or x.lower() in _BRACKET_NONLITERAL_KEYWORDS:
            pos = m.end()
            continue
        rep = _int_cast_emit("CAST", x, m.group(1).upper())
        out = out[:ls] + rep + out[m.end() :]
        pos = ls + len(rep)
    return out


def _rewrite_intdiv(sql: str) -> str:
    if "//" not in sql:
        return sql
    mask = _code_mask(sql)
    out: list[str] = []
    i = 0
    while i < len(sql):
        if sql[i] == "/" and i + 1 < len(sql) and sql[i + 1] == "/" and mask[i] and mask[i + 1]:
            out.append(" div ")
            i += 2
        else:
            out.append(sql[i])
            i += 1
    return "".join(out)


def _left_operand_start(
    sql: str, mask: list[bool], pos: int, absorb_sign: bool = True
) -> int | None:
    """Start index of the tight operand ending just before ``pos``:
    a ``(...)`` group with an optional call-name chain, or an
    identifier/number token (exponent-aware), with a unary sign absorbed
    when it is in unary position (DuckDB: -2^2 = 4)."""
    i = pos - 1
    while i >= 0 and sql[i].isspace():
        i -= 1
    if i < 0:
        return None
    end = i
    if sql[i] == "'" and not mask[i]:
        # string literal: the mask marks the whole literal (delimiters
        # included) as non-code — the operand is that contiguous run
        k = i
        while k >= 0 and not mask[k]:
            k -= 1
        return k + 1
    # postfix subscript groups (``x[1]``, ``f(x)[2]``) belong to the
    # operand — walk back over each balanced [..] and keep capturing
    while sql[i] == "]" and mask[i]:
        i = _match(sql, i)
        if i is None or i == 0:
            return None
        i -= 1
        while i >= 0 and sql[i].isspace():
            i -= 1
        if i < 0:
            return None
    if sql[i] == ")":
        i = _match(sql, i)
        if i is None:
            return None
        k = i - 1
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_$."):
            k -= 1
        name = sql[k + 1 : i]
        if (
            name
            and not name[0].isdigit()
            and name.lower() not in _BRACKET_NEVER_CALL_KEYWORDS
        ):
            start = k + 1
        else:
            start = i
    elif sql[i].isalnum() or sql[i] in "_$":
        k = i
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_$."):
            k -= 1
        # exponent sign inside a float literal: 1.5e-3
        if (
            k >= 2
            and sql[k] in "+-"
            and sql[k - 1] in "eE"
            and sql[k - 2].isdigit()
        ):
            k -= 2
            while k >= 0 and (sql[k].isalnum() or sql[k] in "_$."):
                k -= 1
        start = k + 1
        tok = sql[start : end + 1]
        if not tok or tok.lower() in _BRACKET_NONLITERAL_KEYWORDS:
            return None
        if tok.startswith(".") and k >= 0 and sql[k] == ")":
            # struct-field access on a parenthesized base —
            # ``({'a': 1}).a % 2`` — absorb the (...) group (and any
            # call-name chain) into the operand (fuzz r8 seed 198)
            j = _match(sql, k)
            if j is None:
                return None
            k2 = j - 1
            while k2 >= 0 and (sql[k2].isalnum() or sql[k2] in "_$."):
                k2 -= 1
            name = sql[k2 + 1 : j]
            if (
                name
                and not name[0].isdigit()
                and name.lower() not in _BRACKET_NEVER_CALL_KEYWORDS
            ):
                start = k2 + 1
            else:
                start = j
    else:
        return None
    # a ``::type`` cast chain binds tighter than any operator here — keep
    # walking left across each ``::`` to the underlying operand
    while True:
        j = start - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j >= 1 and sql[j] == ":" and sql[j - 1] == ":" and mask[j]:
            inner = _left_operand_start(sql, mask, j - 1, absorb_sign=False)
            if inner is None:
                break
            start = inner
        else:
            break
    # unary sign binds tighter than ^ — absorb it when no operand precedes
    if not absorb_sign:
        return start
    j = start - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j >= 0 and sql[j] in "+-":
        k = j - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        prev = sql[k] if k >= 0 else ""
        if not (prev.isalnum() or prev in "_$.)'\""):
            start = j
        elif prev.isalpha() or prev == "_":
            # the sign follows a word — unary when that word is a keyword
            # (SELECT -1 ^ 2, WHEN -x ^ 2, ...), binary after an operand
            w = k
            while w >= 0 and (sql[w].isalnum() or sql[w] in "_$"):
                w -= 1
            if sql[w + 1 : k + 1].lower() in _BRACKET_NONLITERAL_KEYWORDS:
                start = j
    return start


def _right_operand_end(sql: str, pos: int) -> int | None:
    """End index (inclusive) of the tight operand starting at/after ``pos``:
    optional unary sign, then a ``(...)`` group, a call, or an
    identifier/number/string token."""
    n = len(sql)
    i = pos
    while i < n and sql[i].isspace():
        i += 1
    while i < n and sql[i] in "+-":
        i += 1
        while i < n and sql[i].isspace():
            i += 1
    if i >= n:
        return None
    if sql[i] == "'":
        m = re.match(r"'(?:[^']|'')*'", sql[i:])
        return i + m.end() - 1 if m else None
    if sql[i] == "(":
        # struct-field access binds tighter than any operator:
        # ``10 // ({'a': k}).a`` — absorb trailing ``.ident`` chains into
        # the operand (fuzz r8 seed 349)
        return _field_chain_end(sql, _match(sql, i))
    if sql[i].isalnum() or sql[i] in "_$":
        is_num = sql[i].isdigit()
        k = i
        while k < n and (sql[k].isalnum() or sql[k] in "_$."):
            k += 1
        if is_num and k < n and sql[k] in "+-" and sql[k - 1] in "eE":
            k += 1
            while k < n and sql[k].isdigit():
                k += 1
        j = k
        while j < n and sql[j].isspace():
            j += 1
        if not is_num and j < n and sql[j] == "(":
            # same struct-field absorption as the paren-group branch:
            # ``k // map_extract(m, 'a')[1].p`` — by this pass the
            # subscript is already a call, so the ``.p`` tail hangs off a
            # CALL operand (fuzz r10 statement seed 8330)
            return _field_chain_end(sql, _match(sql, j))
        return k - 1
    return None


def _field_chain_end(sql: str, close: int | None) -> int | None:
    """End of the ``.ident`` chain that follows the group closing at
    ``close`` (``close`` itself when none follows)."""
    if close is None:
        return None
    i, n = close, len(sql)
    while (
        i + 2 < n
        and sql[i + 1] == "."
        and (sql[i + 2].isalpha() or sql[i + 2] in "_$")
    ):
        i += 2
        while i + 1 < n and (sql[i + 1].isalnum() or sql[i + 1] in "_$"):
            i += 1
    return i


def _rewrite_caret_at(sql: str) -> str:
    """DuckDB ``a ^@ b`` (starts-with) → ``startswith(a, b)``."""
    while "^@" in sql:
        mask = _code_mask(sql)
        idx = next(
            (
                i
                for i in range(len(sql) - 1)
                if sql[i] == "^" and sql[i + 1] == "@" and mask[i] and mask[i + 1]
            ),
            None,
        )
        if idx is None:
            return sql
        ls = _left_operand_start(sql, mask, idx)
        rend = _right_operand_end(sql, idx + 2)
        if ls is None or rend is None:
            return sql
        left = sql[ls:idx].strip()
        right = sql[idx + 2 : rend + 1].strip()
        sql = sql[:ls] + f"startswith({left}, {right})" + sql[rend + 1 :]
    return sql


_POW_OP = re.compile(r"\*\*|\^(?!@)")


def _rewrite_power(sql: str) -> str:
    """``a ^ b`` / ``a ** b`` → ``power(a, b)`` (leftmost-first, so chains
    associate left like DuckDB: 2^3^2 → power(power(2, 3), 2) = 64)."""
    while "^" in sql or "**" in sql:
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _POW_OP.finditer(sql)
                if all(mask[i] for i in range(c.start(), c.end()))
            ),
            None,
        )
        if m is None:
            return sql
        ls = _left_operand_start(sql, mask, m.start())
        rend = _right_operand_end(sql, m.end())
        if ls is None or rend is None:
            return sql
        left = sql[ls : m.start()].strip()
        right = sql[m.end() : rend + 1].strip()
        sql = sql[:ls] + f"power({left}, {right})" + sql[rend + 1 :]
    return sql


_SIMILAR_TO = re.compile(r"\b(NOT\s+)?SIMILAR\s+TO\b", re.IGNORECASE)


def _rewrite_similar_to(sql: str) -> str:
    """``x [NOT] SIMILAR TO p`` → anchored RLIKE (DuckDB treats the
    pattern as a full-match regex)."""
    while True:
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _SIMILAR_TO.finditer(sql)
                if all(mask[i] for i in range(c.start(), c.end()))
            ),
            None,
        )
        if m is None:
            return sql
        ls = _left_operand_start(sql, mask, m.start())
        if ls is None:
            return sql
        # ``||`` binds tighter than SIMILAR TO — absorb concat chains
        while True:
            j = ls - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 1 and sql[j] == "|" and sql[j - 1] == "|" and mask[j]:
                prev = _left_operand_start(sql, mask, j - 1)
                if prev is None:
                    break
                ls = prev
            else:
                break
        left = sql[ls : m.start()].strip()
        lit = re.match(r"\s*'((?:[^']|'')*)'(?!\s*\|\|)", sql[m.end() :])
        if lit:
            rep = f"{left} RLIKE '^(?:{lit.group(1)})$'"
            end = m.end() + lit.end()
        else:
            rend = _right_operand_end(sql, m.end())
            if rend is None:
                return sql
            while True:
                j = rend + 1
                while j < len(sql) and sql[j].isspace():
                    j += 1
                if j + 1 < len(sql) and sql[j] == "|" and sql[j + 1] == "|" and mask[j]:
                    nxt = _right_operand_end(sql, j + 2)
                    if nxt is None:
                        break
                    rend = nxt
                else:
                    break
            pat = sql[m.end() : rend + 1].strip()
            # `||` not concat(): the skip-NULLs pass would re-capture the
            # emitted concat and a NULL pattern must stay NULL (trap 31)
            rep = f"rlike({left}, '^(?:' || ({pat}) || ')$')"
            end = rend + 1
        if m.group(1):
            rep = f"NOT ({rep})"
        sql = sql[:ls] + "(" + rep + ")" + sql[end:]
    return sql


_TILDE_OP = re.compile(r"(?<![~!<>=|^*/%+-])(!?~)(?![~*=])")


def _rewrite_tilde_regex(sql: str) -> str:
    """Postgres-style regex operators ``x ~ p`` / ``x !~ p`` → anchored
    RLIKE (probed: DuckDB ``~`` is regexp_full_match — ``'abcd' ~ 'b.'``
    is false).  A ``~`` with no left operand (or a keyword before it) is
    unary bitwise NOT in both engines and is left alone."""
    while True:
        mask = _code_mask(sql)
        hit = None
        for c in _TILDE_OP.finditer(sql):
            if not all(mask[i] for i in range(c.start(1), c.end(1))):
                continue
            ls = _left_operand_start(sql, mask, c.start(1))
            if ls is None:
                # the operand helper rejects keyword tokens, but a literal
                # NULL left side is a valid regex operand (NULL ~ p → NULL)
                nm = re.search(r"(?<![\w$])NULL\s*$", sql[: c.start(1)], re.IGNORECASE)
                if nm is None:
                    continue
                ls = nm.start()
            left = sql[ls : c.start(1)].strip()
            if not left or (
                left.lower() in _BRACKET_NONLITERAL_KEYWORDS
                and left.lower() != "null"
            ):
                continue  # unary bitwise-NOT position
            hit = (c, ls, left)
            break
        if hit is None:
            return sql
        m, ls, left = hit
        lit = re.match(r"\s*'((?:[^']|'')*)'(?!\s*\|\|)", sql[m.end(1) :])
        if lit:
            rep = f"{left} RLIKE '^(?:{lit.group(1)})$'"
            end = m.end(1) + lit.end()
        else:
            rend = _right_operand_end(sql, m.end(1))
            if rend is None:
                return sql
            pat = sql[m.end(1) : rend + 1].strip()
            # `||` not concat(): the skip-NULLs pass would re-capture the
            # emitted concat and a NULL pattern must stay NULL (trap 31)
            rep = f"rlike({left}, '^(?:' || ({pat}) || ')$')"
            end = rend + 1
        if m.group(1).startswith("!"):
            rep = f"NOT ({rep})"
        sql = sql[:ls] + "(" + rep + ")" + sql[end:]
    return sql


def _split_entry_colon(text: str) -> tuple[str, str] | None:
    """Split ``k: v`` on the first top-level ``:`` (``::`` casts skipped)."""
    cuts = _top_colons(text)
    return (text[: cuts[0]], text[cuts[0] + 1 :]) if cuts else None


_MAP_KW_TAIL = re.compile(r"\bMAP\s*$", re.IGNORECASE)


def _rewrite_brace_literals(sql: str) -> str:
    """``{'a': 1, 'b': x}`` → ``named_struct('a', 1, 'b', x)``;
    ``MAP {k: v, ...}`` → ``map(k, v, ...)`` (innermost-first walk, same
    shape as the bracket pass — nested literals compose)."""
    if "{" not in sql:
        return sql
    mask = _code_mask(sql)

    def walk(start: int, end: int) -> str:
        out: list[str] = []
        i = start
        while i < end:
            ch = sql[i]
            if ch != "{" or not mask[i]:
                out.append(ch)
                i += 1
                continue
            j = _match(sql, i)
            if j is None or j >= end:
                out.append(ch)
                i += 1
                continue
            inner = walk(i + 1, j)
            i = j + 1
            prefix = "".join(out)
            pairs = [
                _split_entry_colon(e) for e in _split_top(inner) if e.strip()
            ]
            if not pairs or any(p is None for p in pairs):
                out.append("{" + inner + "}")
                continue
            mkw = _MAP_KW_TAIL.search(prefix)
            if mkw:
                # Emit map_from_arrays, not varargs map(): the fn-macro
                # pass (which runs later) rewrites 2-arg map(keys, vals)
                # — DuckDB's list-pair constructor — and a one-pair brace
                # literal emitted as map(k, v) would collide with it.
                ks = ", ".join(k.strip() for k, _ in pairs)
                vs = ", ".join(v.strip() for _, v in pairs)
                out = [
                    prefix[: mkw.start()],
                    f"map_from_arrays(array({ks}), array({vs}))",
                ]
            else:
                args = ", ".join(f"{k.strip()}, {v.strip()}" for k, v in pairs)
                out = [prefix, f"named_struct({args})"]
        return "".join(out)

    return walk(0, len(sql))


_FROM_TAIL = re.compile(r"\b(?:FROM|JOIN)\s+\Z", re.IGNORECASE)


def _series_table(fn: str):
    def handler(args) -> str | None:
        if not _FROM_TAIL.search(args.before):
            return None
        body = _series_body(fn, [a.strip() for a in args])
        return None if body is None else f"(SELECT explode({body}) AS `{fn}`)"

    return handler


_SERIES_TABLES = {fn: _series_table(fn) for fn in ("generate_series", "range", "unnest")}


def _rewrite_series_tvf(sql: str) -> str:
    """FROM-position ``generate_series``/``range`` table functions →
    exploded ``sequence`` subqueries keeping DuckDB's column name and
    bound/empty/error behavior.  Trailing aliases (``t(x)``) survive as
    subquery aliases."""
    return _rewrite_calls(sql, _SERIES_TABLES)


_DOT_CALL = re.compile(r"\.\s*([A-Za-z_]\w*)\s*\(")

# members that look like calls but are Spark expression syntax, never
# DuckDB chained functions
_DOT_CALL_SKIP = frozenset({"over", "filter", "within"})


def _rewrite_dot_chain(sql: str) -> str:
    """DuckDB function chaining: ``expr.fn(args)`` → ``fn(expr, args)``.

    Pinned by probes: works on identifiers (``s.string_split(' ')``),
    paren groups and call results (``trim(x).len()``); a bare string
    literal base is a parser error in DuckDB too, so it is left alone
    here (the literal-left capture never fires — bases are code, the
    literal chars are masked).  Chains flatten leftmost-first:
    ``a.substr(2, 3).upper()`` → ``upper(substr(a, 2, 3))``.  The
    ambiguity with catalog-qualified function names (``db.fn(x)``) is
    resolved the DuckDB way: the dot reading wins."""
    for _ in range(_MAX_DOT_CHAIN):
        mask = _code_mask(sql)
        hit = None
        for m in _DOT_CALL.finditer(sql):
            if not all(mask[i] for i in range(m.start(), m.end())):
                continue
            if m.group(1).lower() in _DOT_CALL_SKIP:
                continue
            base = _left_operand_start(sql, mask, m.start(), absorb_sign=False)
            if base is None or base == m.start():
                continue
            # the literal-left capture (masked run) is not a valid chain
            # base — DuckDB rejects 'abc'.upper() as well
            if not mask[base]:
                continue
            hit = (m, base)
            break
        if hit is None:
            return sql
        m, base = hit
        parsed = _split_call_args(sql, m.end() - 1)
        if parsed is None:
            return sql
        args, close = parsed
        base_txt = sql[base : m.start()].strip()
        arg_txt = ", ".join(a.strip() for a in args if a.strip())
        inner = f"{base_txt}, {arg_txt}" if arg_txt else base_txt
        sql = sql[:base] + f"{m.group(1)}({inner})" + sql[close + 1 :]
    return sql


_MAX_DOT_CHAIN = 100


# lambda-taking builtins whose ``var -> expr`` arrows must never be read
# as JSON extraction
_HOF_NAMES = frozenset(
    "transform filter exists forall aggregate reduce zip_with map_filter "
    "map_zip_with array_sort transform_keys transform_values "
    "list_transform list_filter list_reduce list_aggregate".split()
)

_JSON_ARROW = re.compile(r"->>?")


def _enclosing_call_name(sql: str, pos: int) -> str:
    i = _enclosing(sql, pos)
    if i is None or sql[i] != "(":
        return ""
    j = i - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    k = j
    while k >= 0 and (sql[k].isalnum() or sql[k] in "_$"):
        k -= 1
    return sql[k + 1 : j + 1].lower()


def _rewrite_json_arrows(sql: str) -> str:
    """DuckDB JSON operators ``j -> 'key'`` / ``j ->> 'key'`` / ``-> i``
    → ``get_json_object`` with a ``$.key`` / ``$[i]`` path (leftmost-
    first, so chains nest).  Only fires when the right side is a string
    or integer literal AND the enclosing call is not a lambda-taking
    higher-order function — ``transform(l, x -> 'a')`` keeps its arrow.
    (Both arrows map to the text-returning form; DuckDB's ``->`` keeps
    JSON quoting on strings, a documented divergence shared with
    ``json_extract``.)"""
    while "->" in sql:
        mask = _code_mask(sql)
        hit = None
        for m in _JSON_ARROW.finditer(sql):
            if not all(mask[i] for i in range(m.start(), m.end())):
                continue
            after = sql[m.end() :]
            rm = re.match(r"\s*'((?:[^']|'')*)'", after) or re.match(
                r"\s*(\d+)(?![\w$.])", after
            )
            if rm is None:
                continue
            if (
                m.group(0) == "->"
                and _enclosing_call_name(sql, m.start()) in _HOF_NAMES
            ):
                continue
            ls = _left_operand_start(sql, mask, m.start(), absorb_sign=False)
            if ls is None:
                continue
            hit = (m, rm, ls)
            break
        if hit is None:
            return sql
        m, rm, ls = hit
        base = sql[ls : m.start()].strip()
        if rm.re.pattern.startswith(r"\s*'"):
            key = rm.group(1)
            path = "$." + key if re.fullmatch(r"\w+", key) else f"$['{key}']"
        else:
            path = f"$[{rm.group(1)}]"
        rep = f"get_json_object({base}, '{path}')"
        sql = sql[:ls] + rep + sql[m.end() + rm.end() :]
    return sql


_ORDER_TERMINATOR = re.compile(
    r"(LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|WINDOW|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)
_NULLS_EXPLICIT = re.compile(r"\bNULLS\s+(?:FIRST|LAST)$", re.IGNORECASE)
_DESC_TAIL = re.compile(r"\bDESC$", re.IGNORECASE)
_ALL_KEY = re.compile(r"^\s*ALL\s*$", re.IGNORECASE)


def _rewrite_order_by_nulls(sql: str) -> str:
    """Align default null ordering with DuckDB: NULLS LAST in BOTH sort
    directions (probed), where Spark's ASC default is NULLS FIRST — a
    silent row-order divergence on every nullable sort key.  Every
    ascending ORDER BY key (top level, subqueries, window clauses,
    in-aggregate ORDER BY) without an explicit NULLS marker gets
    ``NULLS LAST``; DESC keys already match and are left alone.
    ``ORDER BY ALL`` is skipped (Spark rejects ``ALL NULLS LAST``; its
    expansion keeps Spark defaults — documented residual)."""
    mask = _code_mask(sql)
    cmask = [False] * len(sql)
    for kind, s, e in _lex(sql):
        if kind == COMMENT:
            cmask[s:e] = [True] * (e - s)
    depths = _brackets(sql).depth
    inserts: list[int] = []

    def add_key(start: int, end: int) -> None:
        # Walk back over trailing whitespace AND comments (ADVICE r7:
        # 'a -- note' must insert before the comment, and a trailing
        # comment must not defeat the DESC / NULLS-explicit detection).
        j = end - 1
        while j >= start and (cmask[j] or sql[j].isspace()):
            j -= 1
        if j < start:
            return
        insert_at = j + 1
        # Comment-free view for the tail checks (string literals kept —
        # they are part of the key expression).
        stripped = "".join(
            " " if cmask[i] else sql[i] for i in range(start, insert_at)
        ).strip()
        if not stripped:
            return
        if _ALL_KEY.match(stripped):
            return
        if _NULLS_EXPLICIT.search(stripped) or _DESC_TAIL.search(stripped):
            return
        inserts.append(insert_at)

    for m in _keyword_matches(sql, mask, r"\bORDER\s+BY\b"):
        d0 = depths[m.start()]
        i = m.end()
        key_start = i
        while True:
            if i >= len(sql):
                add_key(key_start, i)
                break
            ch = sql[i]
            if not mask[i]:
                i += 1
                continue
            if depths[i] < d0:
                add_key(key_start, i)
                break
            if ch == ";" and depths[i] == d0:
                add_key(key_start, i)
                break
            if ch == "," and depths[i] == d0:
                add_key(key_start, i)
                key_start = i + 1
                i += 1
                continue
            if (
                depths[i] == d0
                and (ch.isalpha())
                and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] in "_$"))
            ):
                t = _ORDER_TERMINATOR.match(sql, i)
                if t and all(mask[k] for k in range(t.start(), t.end())):
                    add_key(key_start, i)
                    break
            i += 1
    for pos in sorted(inserts, reverse=True):
        sql = sql[:pos] + " NULLS LAST" + sql[pos:]
    return sql


_WINDOWISH = ("over", "filter")
_CLAUSE_KEYWORDS = frozenset(
    "from where group order having limit offset union intersect except "
    "join on as and or when then else end window qualify using select "
    "by asc desc nulls".split()
)


def _full_left_operand(sql: str, mask: list[bool], pos: int) -> int | None:
    """``_left_operand_start`` plus absorption of trailing aggregate
    clause chains: in ``count(*) FILTER (WHERE b) / 2`` the left operand
    of ``/`` is the whole aggregate, but the tight capture stops at the
    ``FILTER (...)`` group (reading FILTER as a call name).  Walk back
    across OVER/FILTER links to the underlying call; bail (None) when
    the context is ambiguous rather than risk mis-capture."""
    start = _left_operand_start(sql, mask, pos)
    if start is None:
        return None
    while True:
        if re.match(r"(?:over|filter)\b", sql[start:], re.IGNORECASE):
            prev = _left_operand_start(sql, mask, start)
            if prev is None:
                return None
            start = prev
            continue
        j = start - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        k = j
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_$"):
            k -= 1
        if j >= 0 and sql[k + 1 : j + 1].lower() in _WINDOWISH:
            prev = _left_operand_start(sql, mask, k + 1)
            if prev is None:
                return None
            start = prev
            continue
        return start


def _full_right_operand(sql: str, pos: int) -> int | None:
    """``_right_operand_end`` plus absorption of a following
    ``OVER (...)`` / ``OVER w`` / ``FILTER (...)`` clause, so
    ``x / count(*) OVER ()`` captures the whole window expression."""
    rend = _right_operand_end(sql, pos)
    if rend is None:
        return None
    n = len(sql)
    while True:
        j = rend + 1
        while j < n and sql[j].isspace():
            j += 1
        m = re.match(r"(over|filter)\b", sql[j:], re.IGNORECASE)
        if not m:
            return rend
        j2 = j + m.end()
        while j2 < n and sql[j2].isspace():
            j2 += 1
        if j2 < n and sql[j2] == "(":
            rend = _match(sql, j2)
            if rend is None:
                return None
        elif (
            m.group(1).lower() == "over"
            and j2 < n
            and (sql[j2].isalpha() or sql[j2] == "_")
        ):
            k = j2
            while k < n and (sql[k].isalnum() or sql[k] in "_$"):
                k += 1
            if sql[j2:k].lower() in _CLAUSE_KEYWORDS:
                return rend  # 'over' was an identifier, not a window link
            rend = k - 1
        else:
            return rend


def _rewrite_concat_skip_nulls(sql: str) -> str:
    """DuckDB ``concat`` SKIPS NULL arguments (probed: ``concat('a',
    NULL)`` → 'a', ``concat(NULL, NULL)`` → '') and stringifies every
    argument, while Spark's ``concat`` propagates NULL — a silent wrong
    answer on any nullable column.  ``concat_ws('', ...)`` has DuckDB's
    exact skip-NULL semantics, so the call is renamed with an injected
    empty separator.  (``||`` is NULL-propagating in both engines and is
    left alone; DuckDB's list-argument stringification is a documented
    residual — Spark joins array elements instead.)"""
    return _rewrite_calls(sql, _CONCAT_CALLS)


_CONCAT_CALLS = {"concat": lambda args: "concat_ws('', " + ",".join(args) + ")"}


_PIPE_CONCAT = re.compile(r"\|\|")


def _rewrite_arrayish_pipe_concat(sql: str) -> str:
    """DuckDB ``||`` on LISTs is list_concat, which SKIPS NULL operands
    (probed r9: NULL-valued BIGINT[] column ``|| [99]`` → [99]; all-NULL
    → NULL) while Spark's array ``||`` is concat, which NULL-propagates —
    a silent NULL on any nullable list column.  When any operand of a
    top-level ``||`` chain is TEXTUALLY list-producing (the
    _ARRAYISH_BASE classifier; the bracket pass has already rendered
    ``[..]`` literals as array(..)), the whole chain is rewritten
    atomically (playbook: emitted text must not re-trigger the pass) to
    ``flatten(array_compact(array(ops…)))`` under an all-NULL guard.
    String/unknown chains are left alone — ``||`` on strings
    NULL-propagates identically in both engines.  Residual: an operand
    that is a bare identifier of list type on BOTH sides (no textual
    hint anywhere in the chain) keeps Spark's NULL-propagation."""
    while True:
        mask = _code_mask(sql)
        done = True
        for m in _PIPE_CONCAT.finditer(sql):
            if not all(mask[m.start() : m.end()]):
                continue
            # walk to the leftmost || of this chain
            ops: list[tuple[int, int]] = []  # (start, end+1) per operand
            left_pipe = m.start()
            while True:
                ls = _left_operand_start(sql, mask, left_pipe, absorb_sign=False)
                if ls is None:
                    break
                ops.insert(0, (ls, left_pipe))
                j = ls - 1
                while j >= 0 and sql[j].isspace():
                    j -= 1
                if j >= 1 and sql[j] == "|" and sql[j - 1] == "|" and mask[j]:
                    left_pipe = j - 1
                else:
                    break
            if not ops:
                continue
            # walk rightward across the chain
            right_pipe = m.start()
            while True:
                rend = _right_operand_end(sql, right_pipe + 2)
                if rend is None:
                    ops = []
                    break
                ops.append((right_pipe + 2, rend + 1))
                j = rend + 1
                while j < len(sql) and sql[j].isspace():
                    j += 1
                if j + 1 < len(sql) and sql[j] == "|" and sql[j + 1] == "|" and mask[j]:
                    right_pipe = j
                else:
                    break
            if not ops:
                continue
            texts = [sql[a:b].strip() for a, b in ops]
            if not any(_ARRAYISH_BASE.match(t) for t in texts):
                continue
            guard = " AND ".join(f"({t}) IS NULL" for t in texts)
            arr = ", ".join(f"({t})" for t in texts)
            new = (
                f"(CASE WHEN {guard} THEN NULL "
                f"ELSE flatten(array_compact(array({arr}))) END)"
            )
            sql = sql[: ops[0][0]] + new + sql[ops[-1][1] :]
            done = False
            break  # offsets shifted; re-lex
        if done:
            return sql


_DIVMOD_OP = re.compile(r"(?<![\w$])div(?![\w$])|/|%", re.IGNORECASE)

_INTS_LIST = "('tinyint','smallint','int','bigint')"


def _strip_outer_parens(text: str) -> str:
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        if _match(t, 0) == len(t) - 1:
            t = t[1:-1].strip()
        else:
            break
    return t


_CASE_KW = re.compile(r"(CASE|WHEN|THEN|ELSE|END)(?![\w$])", re.IGNORECASE)


def _case_parts(text: str) -> tuple[list[str], list[str]] | None:
    """Parse a single top-level searched ``CASE WHEN … END`` expression
    into (when_conds, result_exprs); None when ``text`` isn't one.
    Nested CASEs inside branches (parenthesized or not) stay opaque."""
    t = _strip_outer_parens(text)
    if not re.match(r"CASE\s+WHEN(?![\w$])", t, re.IGNORECASE):
        return None
    mask = _code_mask(t)
    depth = _brackets(t).depth
    case_depth = 0
    marks: list[tuple[str, int, int]] = []
    i, n = 0, len(t)
    while i < n:
        if not mask[i]:
            i += 1
            continue
        m = _CASE_KW.match(t, i)
        if m and (i == 0 or not (t[i - 1].isalnum() or t[i - 1] in "_$")):
            kw = m.group(1).upper()
            if depth[i] == 0:
                if kw == "CASE":
                    case_depth += 1
                elif kw == "END":
                    case_depth -= 1
                    if case_depth == 0:
                        marks.append((kw, i, m.end()))
                        if t[m.end() :].strip():
                            return None  # trailing text — not a lone CASE
                        break
                elif case_depth == 1:
                    marks.append((kw, i, m.end()))
            i = m.end()
            continue
        i += 1
    if not marks or marks[-1][0] != "END":
        return None
    conds: list[str] = []
    results: list[str] = []
    for idx, (kw, _s, e) in enumerate(marks[:-1]):
        nxt_start = marks[idx + 1][1]
        seg = t[e:nxt_start].strip()
        if kw == "WHEN":
            conds.append(seg)
        elif kw in ("THEN", "ELSE"):
            results.append(seg)
    return (conds, results) if results else None


_COND_KEYWORDS = {
    "and", "or", "not", "when", "then", "else", "case", "in", "like",
    "ilike", "between", "is", "distinct", "from", "escape", "rlike",
}


def _split_top_arith(t: str) -> list[str]:
    """Split on top-level binary ``+ - *`` (mask-, paren- and CASE-depth-
    aware; unary signs, numeric-literal exponents, and keyword-adjacent
    signs don't split).  Empty list = no confident split (caller falls
    back to a whole-expression typeof)."""
    mask = _code_mask(t)
    depth = _brackets(t).depth
    parts: list[str] = []
    case_depth = 0
    last = 0
    i, n = 0, len(t)
    while i < n:
        if not mask[i]:
            i += 1
            continue
        ch = t[i]
        if depth[i] != 0:
            pass
        elif ch.isalpha() or ch == "_":
            m = re.match(r"[A-Za-z_][\w$]*", t[i:])
            tok = m.group(0).lower()
            if tok == "case":
                case_depth += 1
            elif tok == "end" and case_depth:
                case_depth -= 1
            elif (
                tok == "div"
                and case_depth == 0
                and (i == 0 or not (t[i - 1].isalnum() or t[i - 1] in "_$"))
            ):
                # the ``//`` pass's emitted operator: an outer leaf can
                # still hold a raw inner ``div`` (outer-first text order)
                # whose later rewrite surfaces DOUBLE — but DuckDB types
                # ``a // b`` integral iff both operands are, so split
                # here like ``*`` and test the operands instead
                parts.append(t[last:i].strip())
                last = i + m.end()
                i += m.end()
                continue
            i += m.end()
            continue
        elif case_depth == 0 and ch in "+-*":
            j = i - 1
            while j >= last and t[j].isspace():
                j -= 1
            if j < last:
                i += 1
                continue
            pc = t[j]
            if not (pc.isalnum() or pc in "_$)]" or not mask[j]):
                i += 1
                continue  # unary position
            if ch in "+-" and pc in "eE" and j - 1 >= last and (
                t[j - 1].isdigit() or t[j - 1] == "."
            ):
                k = j - 1
                while k >= last and (t[k].isdigit() or t[k] == "."):
                    k -= 1
                if k < last or not (t[k].isalnum() or t[k] in "_$"):
                    i += 1
                    continue  # exponent sign of a numeric literal
            if mask[j] and (pc.isalnum() or pc in "_$"):
                k = j
                while k >= last and (t[k].isalnum() or t[k] in "_$"):
                    k -= 1
                if t[k + 1 : j + 1].lower() in _COND_KEYWORDS:
                    i += 1
                    continue  # sign right after a keyword — unary
            parts.append(t[last:i].strip())
            last = i + 1
        i += 1
    if not parts or depth[n] != 0 or case_depth != 0:
        return []
    parts.append(t[last:].strip())
    return parts if all(parts) else []


def _leaf_int_cond(text: str) -> str:
    """SQL condition for 'this // chain leaf is integral' — plain Spark
    typeof; the ducktype-numerics pass below has already aligned the
    functions whose static type disagrees between engines.

    A CASE leaf needs care: DuckDB types it as the UNION of its result
    branches (integral iff every branch is), but by the time the outer
    ``//`` is processed an inner ``//`` inside a branch has already been
    rewritten into the DOUBLE-surfaced dispatch CASE, so a plain
    ``typeof`` sees DOUBLE and divides plainly where DuckDB truncates
    (fuzz r8 seed 20313).  So: our own emitted dispatch shape reports
    the integrality condition it was built with (its WHEN clause), and a
    general CASE recurses into its branches, AND-ing them like the
    static union type does (bare NULL branches don't affect the union)."""
    t = _strip_outer_parens(text)
    arith = _split_top_arith(t)
    if len(arith) > 1:
        # DuckDB types a +|-|* chain integral iff every operand is
        return "(" + " AND ".join(_leaf_int_cond(p) for p in arith) + ")"
    parts = _case_parts(t)
    if parts is not None:
        conds, results = parts
        if (
            len(results) == 2
            and results[0].startswith("CAST(CAST(try_divide(")
            and results[1].startswith("try_divide(CAST(")
        ):
            return f"({conds[0]})"
        sub = [
            _leaf_int_cond(r) for r in results if r.upper() != "NULL"
        ]
        if not sub:  # all-NULL CASE: division yields NULL either way
            return "(1=1)"
        return "(" + " AND ".join(sub) + ")"
    return f"typeof({t}) IN {_INTS_LIST}"


# Functions whose DuckDB static type disagrees with Spark's (probed):
# round/ceil/ceiling/floor return DOUBLE (DECIMAL for decimal input) in
# DuckDB, never integral, while Spark keeps int/bigint; sign returns
# TINYINT in DuckDB (integral even for sign(1.5)) while Spark returns
# DOUBLE.  The `//` typeof dispatch — and anything else type-sensitive —
# must see DuckDB's typing, so each call is wrapped in a value-preserving
# CAST.  The cast is OUTSIDE the call: round/ceil/floor on decimals stay
# exact (half-up at decimal precision) and only the representation
# converts, so trap-14 binary-rounding divergences can't be introduced.


def _duckdb_round(x: str, d: str) -> str:
    """DuckDB rounds DOUBLE as ``std::round(x * 10^d) / 10^d`` on the raw
    BINARY value, while Spark rounds the shortest-decimal rendering
    HALF_UP — values straddling a .xx5 boundary diverge (2045.395 stored
    as 2045.39499… → DuckDB 2045.39, Spark 2045.40; fuzz seed 1915, the
    trap-14 class).  Emulate DuckDB for double/float inputs with the
    multiply-floor formula computed in double like DuckDB does; DECIMAL
    inputs keep Spark's exact decimal rounding (identical to DuckDB's
    decimal path).  Guard: once ``|x·10^d| ≥ 2^53`` the formula (and
    DuckDB) is the identity, and floor's BIGINT range must not overflow.
    Each emitted ``floor`` and ``round`` carries the DOUBLE cast this pass
    gives every such call."""
    p = f"power(10, {d})"
    half = (
        f"(CASE WHEN isnan({x}) OR abs(({x}) * {p}) >= 9.007199254740992e15 "
        f"THEN CAST({x} AS DOUBLE) "
        f"WHEN ({x}) < 0 THEN -CAST(floor((-({x})) * {p} + 0.5d) AS DOUBLE) / {p} "
        f"ELSE CAST(floor(({x}) * {p} + 0.5d) AS DOUBLE) / {p} END)"
    )
    return (
        f"(CASE WHEN typeof({x}) IN ('double','float') THEN {half} "
        f"ELSE CAST(round({x}, {d}) AS DOUBLE) END)"
    )


def _ducktype_cast(target: str):
    return lambda args: f"CAST({args.call} AS {target})"


def _ducktype_round(args) -> str:
    if len(args) not in (1, 2):
        return f"CAST({args.call} AS DOUBLE)"
    return _duckdb_round(args[0].strip(), args[1].strip() if len(args) == 2 else "0")


_DUCKTYPE_CALLS = {
    "round": _ducktype_round,
    "ceil": _ducktype_cast("DOUBLE"),
    "ceiling": _ducktype_cast("DOUBLE"),
    "floor": _ducktype_cast("DOUBLE"),
    "sign": _ducktype_cast("INT"),
}


def _rewrite_ducktype_numerics(sql: str) -> str:
    return _rewrite_calls(sql, _DUCKTYPE_CALLS)


def _flatten_leading_mul_groups(sql: str) -> str:
    """See _rewrite_divmod_null: unwrap ``(a * b div c)`` when the group
    starts a multiplicative chain and contains only top-level ``*``/
    ``div`` operators."""
    for _ in range(64):
        mask = _code_mask(sql)
        depth = _brackets(sql).depth
        changed = False
        for i, ch in enumerate(sql):
            if ch != "(" or not mask[i]:
                continue
            j = _match(sql, i)
            if j is None:
                continue
            inner = sql[i + 1 : j]
            has_mul = False
            bad = False
            k = i + 1
            while k < j:
                c = sql[k]
                if mask[k] and depth[k] == depth[i] + 1:
                    if c == "*":
                        has_mul = True
                    elif c in "+-/%<>=!|&^~,:":
                        bad = True
                        break
                    elif c.isalpha():
                        w = k
                        while k + 1 < j and (sql[k + 1].isalnum() or sql[k + 1] in "_$"):
                            k += 1
                        word = sql[w : k + 1].lower()
                        if word == "div":
                            has_mul = True
                        elif word in ("and", "or", "not", "case", "when",
                                      "then", "else", "end", "is", "in",
                                      "like", "between"):
                            bad = True
                            break
                k += 1
            if bad or not has_mul:
                continue
            # previous token must end a chain boundary (not a call name,
            # postfix, or same-level operator)
            p = i - 1
            while p >= 0 and sql[p].isspace():
                p -= 1
            if p >= 0:
                pc = sql[p]
                if pc in "_$)]'\"" or pc in "*%/":
                    continue
                if pc.isalnum():
                    w = p
                    while w >= 0 and (sql[w].isalnum() or sql[w] in "_$"):
                        w -= 1
                    word = sql[w + 1 : p + 1].lower()
                    # a statement keyword is a chain boundary; any other
                    # identifier would make the group a call argument
                    if word not in _BRACKET_NEVER_CALL_KEYWORDS:
                        continue
            # next token must continue the chain with div or *
            q = j + 1
            while q < len(sql) and sql[q].isspace():
                q += 1
            if not (
                sql[q : q + 1] == "*"
                or (
                    re.match(r"div(?![\w$])", sql[q:], re.IGNORECASE)
                    and all(mask[x] for x in range(q, min(q + 3, len(sql))))
                )
            ):
                continue
            sql = sql[:i] + " " + inner + " " + sql[j + 1 :]
            changed = True
            break
        if not changed:
            return sql
    return sql


def _rewrite_divmod_null(sql: str) -> str:
    """DuckDB returns NULL for division/modulo by zero (probed: ``5/0``,
    ``5 % 0``, ``5 // 0``, ``5.0 % 0`` → all NULL) while Spark under ANSI
    raises — so a DuckDB user's ``sum(x)/count(y)`` crashes the whole
    query here on an empty denominator.  Rewrite ``/`` → ``try_divide``,
    ``%`` → ``try_mod``, and the ``div`` emitted by the ``//`` pass →
    a zero-guarded CASE, capturing the full left-hand multiplicative
    chain so grouping — and therefore decimal scale and float rounding —
    is preserved exactly: ``a * b / c`` becomes ``try_divide(a * b, c)``,
    not ``a * try_divide(b, c)``.

    ``//`` is type-polymorphic in DuckDB AT THE STATIC-TYPE LEVEL
    (probed: ``7 // 2`` → INTEGER 3 truncated, but ``7.5 // 2`` → DOUBLE
    3.75 and ``9.99 // 2.5`` → 3.996, i.e. PLAIN division whenever an
    operand is non-integral).  The emitted CASE dispatches on Spark's
    ``typeof`` (also static per column), truncating for integral
    operands and dividing plainly otherwise; both branches surface as
    DOUBLE, which the JS-parity cell formatter renders identically to
    DuckDB's INTEGER for whole values.  Residuals (documented): integer
    ``//`` results beyond 2^53 round through the double path, and a
    nested ``a // b // c`` chain's intermediate loses its integer static
    type (the outer ``//`` then divides plainly).

    Runs OUTERMOST (after USING SAMPLE/QUALIFY/function renames) so
    ``10%`` percent spellings and macro expansions are already resolved.
    Leftmost-first with restart (like the ``^`` pass): every replacement
    removes exactly one ``/``/``%``/``div`` token and emits none, so the
    loop terminates with every occurrence — including ones nested inside
    captured operands — processed.  On an ambiguous capture the operator
    is skipped (Spark's ANSI error then surfaces — never a silent
    mis-capture)."""
    if "/" not in sql and "%" not in sql and not re.search(_DIVMOD_OP, sql):
        return sql
    # ``(a // b) // c`` parses identically to ``a // b // c`` (same
    # precedence level, left-assoc), but the parens split the chain into
    # two rewrites and the inner CASE's DOUBLE surface type poisons the
    # outer ``typeof`` dispatch (fuzz r8 seed 6884: integral chain took
    # plain division).  Strip parens around a pure multiplicative group
    # when it STARTS a chain — never after *, /, %, div (grouping would
    # change: ``2 * (a div b) div c`` ≠ ``2 * a div b div c``) and never
    # as a call/postfix argument.
    sql = _flatten_leading_mul_groups(sql)
    skipped: set[tuple[int, str]] = set()
    guard = 0
    while guard < 500:
        guard += 1
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _DIVMOD_OP.finditer(sql)
                if all(mask[i] for i in range(c.start(), c.end()))
                and (c.start(), c.group(0)) not in skipped
            ),
            None,
        )
        if m is None:
            return sql
        ls = _full_left_operand(sql, mask, m.start())
        rend = _full_right_operand(sql, m.end())
        if ls is None or rend is None:
            # can't capture safely — leave this occurrence untouched
            skipped.add((m.start(), m.group(0)))
            continue
        op = m.group(0).lower()
        if op in ("/", "%"):
            # absorb the left multiplicative chain as TEXT: '*' and 'div'
            # bind at the same level, so (a * b) / c captures 'a * b'
            while True:
                j = ls - 1
                while j >= 0 and sql[j].isspace():
                    j -= 1
                if j >= 0 and sql[j] == "*" and mask[j]:
                    prev = _full_left_operand(sql, mask, j)
                    if prev is None:
                        break
                    ls = prev
                elif (
                    j >= 2
                    and mask[j]
                    and sql[j - 2 : j + 1].lower() == "div"
                    and (j - 3 < 0 or not (sql[j - 3].isalnum() or sql[j - 3] in "_$"))
                ):
                    prev = _full_left_operand(sql, mask, j - 2)
                    if prev is None:
                        break
                    ls = prev
                else:
                    break
            left = sql[ls : m.start()].strip()
            right = sql[m.end() : rend + 1].strip()
            if op == "/":
                # DuckDB '/' ALWAYS divides as DOUBLE (probed:
                # typeof(1.5/2.5) = DOUBLE) where Spark keeps decimal
                # division — -2/3 at decimal scale 6 (-0.666667) vs the
                # double -0.666... is a visible value divergence.  The
                # dividend cast forces the double path BEFORE dividing
                # (an outer cast would keep decimal's truncated scale).
                # '%' keeps its operand types in both engines.  (Interval
                # division is a documented residual — the cast rejects it.)
                rep = f"try_divide(CAST({left} AS DOUBLE), {right})"
            else:
                rep = f"try_mod({left}, {right})"
            sql = sql[:ls] + rep + sql[rend + 1 :]
            continue
        # '//'-emitted div: DuckDB truncates ONLY while EVERY leaf of the
        # multiplicative chain so far is integral (7//2 → 3 but 7.5//2 →
        # 3.75 and 1//1//2 → 0, probed).  Collect the whole */div chain
        # around this div as LEAVES, then fold left with a per-div-stage
        # CASE whose condition is prefix-leaf integrality — one atomic
        # replacement per chain, so intermediate double typing can't
        # poison later stages.
        leaves = [(sql[ls : m.start()].strip(), None)]
        leaves.append((sql[m.end() : rend + 1].strip(), "div"))
        chain_start, chain_end = ls, rend
        # absorb leftward
        while True:
            j = chain_start - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 0 and sql[j] == "*" and mask[j]:
                prev = _full_left_operand(sql, mask, j)
                if prev is None:
                    break
                leaves.insert(1, (leaves[0][0], "*"))
                leaves[0] = (sql[prev:j].strip(), None)
                chain_start = prev
            elif (
                j >= 2
                and mask[j]
                and sql[j - 2 : j + 1].lower() == "div"
                and (j - 3 < 0 or not (sql[j - 3].isalnum() or sql[j - 3] in "_$"))
            ):
                prev = _full_left_operand(sql, mask, j - 2)
                if prev is None:
                    break
                leaves.insert(1, (leaves[0][0], "div"))
                leaves[0] = (sql[prev : j - 2].strip(), None)
                chain_start = prev
            else:
                break
        # absorb rightward
        n = len(sql)
        while True:
            j = chain_end + 1
            while j < n and sql[j].isspace():
                j += 1
            nxt = None
            if j < n and sql[j] == "*" and mask[j]:
                nxt = ("*", j + 1)
            else:
                dm = re.match(r"div(?![\w$])", sql[j:], re.IGNORECASE)
                if dm and all(mask[i] for i in range(j, j + 3)):
                    nxt = ("div", j + 3)
            if nxt is None:
                break
            r2 = _full_right_operand(sql, nxt[1])
            if r2 is None:
                break
            leaves.append((sql[nxt[1] : r2 + 1].strip(), nxt[0]))
            chain_end = r2
        texts = [t for t, _ in leaves]
        x = texts[0]
        for k in range(1, len(leaves)):
            leaf, kind = leaves[k]
            if kind == "*":
                x = f"({x} * {leaf})"
            else:
                cond = " AND ".join(
                    _leaf_int_cond(t) for t in texts[: k + 1]
                )
                x = (
                    f"(CASE WHEN {cond} "
                    f"THEN CAST(CAST(try_divide({x}, {leaf}) AS BIGINT) AS DOUBLE) "
                    f"ELSE try_divide(CAST({x} AS DOUBLE), {leaf}) END)"
                )
        sql = sql[:chain_start] + x + sql[chain_end + 1 :]
    return sql


_WINDOW_FILTER = re.compile(r"\bFILTER\s*\(\s*WHERE\b", re.IGNORECASE)


def _rewrite_window_filter(sql: str) -> str:
    """DuckDB allows ``agg(x) FILTER (WHERE p) OVER w``; Spark raises
    "Window aggregate function with filter predicate is not supported"
    (probed).  Rewrite the FILTER into the argument —
    ``agg(CASE WHEN p THEN x END) OVER w`` (``count(*)`` counts a CASE
    over 1) — which matches DuckDB because every rewritten aggregate
    skips NULLs.  A ``DISTINCT`` argument keeps its keyword ahead of the
    CASE so the count-distinct window pass below can pick it up.
    GROUP-BY FILTER (no trailing OVER) is Spark-native and untouched."""
    if not _WINDOW_FILTER.search(sql):
        return sql
    for _ in range(50):
        mask = _code_mask(sql)
        changed = False
        for m in reversed(list(_WINDOW_FILTER.finditer(sql))):
            if not all(mask[m.start() : m.end()]):
                continue
            op = sql.index("(", m.start())
            close = _match(sql, op)
            if close is None:
                continue
            j = close + 1
            while j < len(sql) and (not mask[j] or sql[j].isspace()):
                j += 1
            if not re.match(r"OVER\b", sql[j:], re.IGNORECASE):
                continue
            pred = re.sub(
                r"^\s*WHERE\b", "", sql[op + 1 : close], flags=re.IGNORECASE
            ).strip()
            # the aggregate call directly before FILTER
            k = m.start() - 1
            while k >= 0 and (not mask[k] or sql[k].isspace()):
                k -= 1
            if k < 0 or sql[k] != ")":
                continue
            open_i = _match(sql, k)
            if open_i is None:
                continue
            nm = re.search(r"([A-Za-z_][A-Za-z_0-9]*)\s*$", sql[:open_i])
            if not nm:
                continue
            args = sql[open_i + 1 : k].strip()
            if args == "*":
                if nm.group(1).lower() != "count":
                    continue
                new_args = f"CASE WHEN {pred} THEN 1 END"
            else:
                dm = re.match(r"\s*DISTINCT\b", args, re.IGNORECASE)
                rest = args[dm.end() :].strip() if dm else args
                if not rest or len(_split_top(rest)) > 1:
                    continue  # multi-arg aggregates don't rewrite soundly
                new_args = f"CASE WHEN {pred} THEN {rest} END"
                if dm:
                    new_args = "DISTINCT " + new_args
            sql = sql[: open_i + 1] + new_args + ") " + sql[j:]
            changed = True
            break
        if not changed:
            break
    return sql


_DISTINCT_WIN = re.compile(
    r"\b(count|min|max)\s*\(\s*DISTINCT\b", re.IGNORECASE
)


def _rewrite_count_distinct_window(sql: str) -> str:
    """DuckDB allows DISTINCT aggregates as window functions; Spark
    raises DISTINCT_WINDOW_FUNCTION_UNSUPPORTED (probed).  Equivalences
    that hold per-frame: ``count(DISTINCT x) OVER w`` →
    ``coalesce(size(collect_set(x) OVER w), 0)`` (both skip NULLs; the
    coalesce covers an empty frame where DuckDB counts 0), and
    ``min/max(DISTINCT x)`` ≡ ``min/max(x)``.  ``sum/avg(DISTINCT)``
    have no lossless window rewrite and keep Spark's error."""
    if not _DISTINCT_WIN.search(sql):
        return sql
    for _ in range(50):
        mask = _code_mask(sql)
        changed = False
        for m in reversed(list(_DISTINCT_WIN.finditer(sql))):
            if not all(mask[m.start() : m.end()]):
                continue
            fn = m.group(1).lower()
            op = sql.index("(", m.end(1))
            close = _match(sql, op)
            if close is None:
                continue
            j = close + 1
            while j < len(sql) and (not mask[j] or sql[j].isspace()):
                j += 1
            if not re.match(r"OVER\b", sql[j:], re.IGNORECASE):
                continue
            expr = re.sub(
                r"^\s*DISTINCT\b", "", sql[op + 1 : close], flags=re.IGNORECASE
            ).strip()
            if not expr or len(_split_top(expr)) > 1:
                continue
            if fn in ("min", "max"):  # DISTINCT is a no-op for min/max
                sql = sql[: op + 1] + expr + sql[close:]
                changed = True
                break
            # locate the end of the OVER target: (spec) or a window name
            t = j + 4
            while t < len(sql) and (not mask[t] or sql[t].isspace()):
                t += 1
            if t < len(sql) and sql[t] == "(":
                oc = _match(sql, t)
                if oc is None:
                    continue
                over_end = oc + 1
            else:
                wm = re.match(r"[A-Za-z_][A-Za-z_0-9]*", sql[t:])
                if not wm:
                    continue
                over_end = t + wm.end()
            over_txt = sql[j:over_end]
            sql = (
                sql[: m.start()]
                + f"coalesce(size(collect_set({expr}) {over_txt}), 0)"
                + sql[over_end:]
            )
            changed = True
            break
        if not changed:
            break
    return sql


_GLOB_OP = re.compile(r"\b(NOT\s+)?GLOB\b", re.IGNORECASE)


def _glob_to_regex(pat: str) -> str:
    """POSIX-glob pattern → regex source, emitted for a Spark string
    literal (backslashes doubled — this text is produced AFTER the
    literal-backslash pass, so Spark's C-unescape halves it back)."""
    out: list[str] = []
    i, n = 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            if j < n and pat[j] in "!^":
                j += 1
            if j < n and pat[j] == "]":
                j += 1  # leading ] is literal inside a class
            while j < n and pat[j] != "]":
                j += 1
            if j < n:
                inner = pat[i + 1 : j]
                if inner.startswith("!"):
                    inner = "^" + inner[1:]
                out.append("[" + inner + "]")
                i = j
            else:
                out.append("\\\\[")  # unclosed '[' is literal
        elif c in r".^$+{}()|\\":
            out.append("\\\\" + c)
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _rewrite_glob(sql: str) -> str:
    """``x [NOT] GLOB 'pat'`` → anchored case-sensitive RLIKE (DuckDB
    GLOB is a full-match filename-style pattern: ``*`` any run, ``?``
    one char, ``[...]``/``[!...]`` classes).  Only literal patterns are
    rewritten; a dynamic pattern surfaces Spark's parse error rather
    than risking wrong translation."""
    while True:
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _GLOB_OP.finditer(sql)
                if all(mask[i] for i in range(c.start(), c.end()))
            ),
            None,
        )
        if m is None:
            return sql
        ls = _left_operand_start(sql, mask, m.start())
        if ls is None:
            return sql
        lit = re.match(r"\s*'((?:[^']|'')*)'", sql[m.end() :])
        if lit is None:
            return sql
        left = sql[ls : m.start()].strip()
        # the pattern was backslash-doubled by the literal pass; undo for
        # translation, the translator re-escapes for Spark's unescape
        pat = lit.group(1).replace("''", "'").replace("\\\\", "\\")
        rep = f"{left} RLIKE '^(?:{_glob_to_regex(pat)})$'"
        if m.group(1):
            rep = f"NOT ({rep})"
        sql = sql[:ls] + "(" + rep + ")" + sql[m.end() + lit.end() :]
    return sql


def _rewrite_ops_pack(sql: str) -> str:
    return _rewrite_order_by_nulls(
        _rewrite_series_tvf(
        _rewrite_glob(
        _rewrite_tilde_regex(
        _rewrite_similar_to(
            _rewrite_power(
                _rewrite_caret_at(
                    _rewrite_intdiv(
                        _rewrite_json_arrows(
                            _rewrite_bare_varchar(sql)
                        )
                    )
                )
            )
        )
        )
        )
        )
    )


