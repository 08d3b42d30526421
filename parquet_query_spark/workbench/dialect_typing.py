"""Dialect shim: operator & literal pack + numeric typing passes
(// and div dispatch, int-cast rounding, ducktype numerics).  Every
operator rewrite here is a handler table for
``dialect_core._rewrite_operators``; see dialect.py for the pass
pipeline."""

from __future__ import annotations

import re

from parquet_query_spark.workbench.dialect_core import (
    _ARRAYISH_BASE,
    _BRACKET_NEVER_CALL_KEYWORDS,
    _BRACKET_NONLITERAL_KEYWORDS,
    COMMENT,
    DOLLAR,
    STRING,
    _Chain,
    _SQ_LITERAL,
    _brackets,
    _code_mask,
    _code_mask_of,
    _enclosing,
    _in_code,
    _keyword_matches,
    _lex,
    _map_tokens,
    _match,
    _rewrite_calls,
    _rewrite_operators,
    _series_body,
    _split_top,
    _tokens,
    _top_colons,
)


# ── operator & literal dialect pack ───────────────────────────────────────
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
#   - ``x [NOT] SIMILAR TO p``, ``x ~ p``, ``x [NOT] GLOB p`` → anchored
#     RLIKE (DuckDB: full-match patterns).
#   - ``j -> 'k'`` / ``j ->> 'k'`` → ``get_json_object``.
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


def _int_cast_call(args) -> str | None:
    split = _split_top_as(",".join(args))
    if split is None:
        return None
    x, T = split
    if T.strip().lower() not in _CAST_INT_TYPES or x.strip().lower().startswith("try_divide"):
        # the // pass (which runs earlier) emits CAST(try_divide(..) AS
        # BIGINT) for its TRUNCATING integer branch — rounding it would
        # break integer division
        return None
    return _int_cast_emit(args.name.upper(), _rewrite_colon_int_casts(x.strip()), T.strip())


def _int_colon_cast(site) -> str | None:
    x = site.operands[0]
    if site.name.lower() not in _CAST_INT_TYPES or x.lower() in _BRACKET_NONLITERAL_KEYWORDS:
        return None
    return _int_cast_emit("CAST", x, site.name.upper())


_INT_CAST_CALLS = {"cast": _int_cast_call, "try_cast": _int_cast_call}
_INT_COLON_CASTS = {"::": _int_colon_cast}


def _rewrite_int_casts(sql: str) -> str:
    """CAST/TRY_CAST(x AS <int>) and x::<int>, innermost first; a chain
    ``x::DOUBLE::INT`` casts its whole left side."""
    return _rewrite_colon_int_casts(_rewrite_calls(sql, _INT_CAST_CALLS))


def _rewrite_colon_int_casts(sql: str) -> str:
    return _rewrite_operators(sql, _INT_COLON_CASTS) if _in_code(_COLON_INT, sql) else sql


_COLON_INT = re.compile(r"::\s*(?:BIGINT|INTEGER|INT[1248]?|SMALLINT|TINYINT|SIGNED)\b", re.IGNORECASE)


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


def _rlike(subject: str, pattern: str, negate: bool, translate=None) -> str | None:
    """DuckDB's full-match pattern operators as an anchored RLIKE: a literal
    pattern inline (``translate`` turns it into a regex), any other one
    built at run time, which only a regex pattern can be."""
    lit = _SQ_LITERAL.match(pattern)
    if lit:
        body = lit.group(1) if translate is None else translate(lit.group(1))
        rep = f"{subject} RLIKE '^(?:{body})$'"
    elif translate is None:
        # `||` not concat(): the skip-NULLs pass would rewrite an emitted
        # concat, and a NULL pattern must stay NULL
        rep = f"rlike({subject}, '^(?:' || ({pattern}) || ')$')"
    else:
        return None
    return f"(NOT ({rep}))" if negate else f"({rep})"


def _regex_match(site) -> str | None:
    """``x [NOT] SIMILAR TO p`` and the Postgres-style ``x ~ p`` /
    ``x !~ p`` (probed: DuckDB ``~`` is regexp_full_match — ``'abcd' ~
    'b.'`` is false).  A ``~`` with no left operand is unary bitwise NOT
    in both engines and never reaches here."""
    return _rlike(*site.operands, site.ops[0] in ("!~", "not similar to"))


def _glob(site) -> str | None:
    """``x [NOT] GLOB 'pat'`` (a full-match filename-style pattern: ``*``
    any run, ``?`` one char, ``[...]``/``[!...]`` classes), case-sensitive.
    Only a literal pattern is rewritten; a dynamic one surfaces Spark's
    parse error rather than risk a wrong translation.  The literal pass
    doubled the pattern's backslashes; the translator re-escapes."""
    return _rlike(
        *site.operands,
        site.ops[0] == "not glob",
        lambda pat: _glob_to_regex(pat.replace("''", "'").replace("\\\\", "\\")),
    )


def _power(site) -> str:
    return f"power({site.operands[0]}, {site.operands[1]})"


def _starts_with(site) -> str:
    return f"startswith({site.operands[0]}, {site.operands[1]})"


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


def _chained_call(site) -> str | None:
    if site.name.lower() in _DOT_CALL_SKIP or not _code_mask_of(site.sql)[site.start]:
        # a bare string-literal base is a parser error in DuckDB too
        return None
    arg_txt = ", ".join(a.strip() for a in site.args if a.strip())
    base = site.operands[0]
    return f"{site.name}({base}, {arg_txt})" if arg_txt else f"{site.name}({base})"


def _rewrite_dot_chain(sql: str) -> str:
    """DuckDB function chaining: ``expr.fn(args)`` → ``fn(expr, args)``.

    Pinned by probes: works on identifiers (``s.string_split(' ')``),
    paren groups and call results (``trim(x).len()``); a string literal
    base is left alone.  Chains flatten leftmost-first:
    ``a.substr(2, 3).upper()`` → ``upper(substr(a, 2, 3))``.  The
    ambiguity with catalog-qualified function names (``db.fn(x)``) is
    resolved the DuckDB way: the dot reading wins."""
    return _rewrite_operators(sql, _DOT_CALLS) if _in_code(_DOT_CALL, sql) else sql


_DOT_CALLS = {".": _chained_call}


# lambda-taking builtins whose ``var -> expr`` arrows must never be read
# as JSON extraction
_HOF_NAMES = frozenset(
    "transform filter exists forall aggregate reduce zip_with map_filter "
    "map_zip_with array_sort transform_keys transform_values "
    "list_transform list_filter list_reduce list_aggregate".split()
)

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


def _json_arrow(site) -> str | None:
    """DuckDB JSON operators ``j -> 'key'`` / ``j ->> 'key'`` / ``-> i`` →
    ``get_json_object`` with a ``$.key`` / ``$[i]`` path (chains nest).
    Only a string or integer literal key is rewritten, and a ``->`` inside
    a lambda-taking call is its lambda arrow: ``transform(l, x -> 'a')``
    keeps it.  (Both arrows map to the text-returning form; DuckDB's ``->``
    keeps JSON quoting on strings, a documented divergence shared with
    ``json_extract``.)"""
    base, key = site.operands
    lit = _SQ_LITERAL.match(key)
    if lit:
        key = lit.group(1)
        path = "$." + key if re.fullmatch(r"\w+", key) else f"$['{key}']"
    elif key.isdigit():
        path = f"$[{key}]"
    else:
        return None
    if site.ops[0] == "->" and _enclosing_call_name(site.sql, site.start) in _HOF_NAMES:
        return None
    return f"get_json_object({base}, '{path}')"


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


def _list_concat(site) -> str | None:
    texts = site.operands
    if not any(_ARRAYISH_BASE.match(t) for t in texts):
        return None
    all_null = " AND ".join(f"({t}) IS NULL" for t in texts)
    arr = ", ".join(f"({t})" for t in texts)
    return f"(CASE WHEN {all_null} THEN NULL ELSE flatten(array_compact(array({arr}))) END)"


_LIST_CONCAT = {"||": _Chain(frozenset({"||"}), _list_concat)}


def _rewrite_arrayish_pipe_concat(sql: str) -> str:
    """DuckDB ``||`` on LISTs is list_concat, which SKIPS NULL operands
    (probed r9: NULL-valued BIGINT[] column ``|| [99]`` → [99]; all-NULL
    → NULL) while Spark's array ``||`` is concat, which NULL-propagates —
    a silent NULL on any nullable list column.  When any operand of a
    ``||`` chain is TEXTUALLY list-producing (the _ARRAYISH_BASE
    classifier; the bracket pass has already rendered ``[..]`` literals as
    array(..)), the whole chain becomes ``flatten(array_compact(array(ops…)))``
    under an all-NULL guard.  String/unknown chains are left alone —
    ``||`` on strings NULL-propagates identically in both engines.
    Residual: an operand that is a bare identifier of list type on BOTH
    sides (no textual hint anywhere in the chain) keeps Spark's
    NULL-propagation."""
    return _rewrite_operators(sql, _LIST_CONCAT) if _in_code(_PIPE, sql) else sql


_PIPE = re.compile(r"\|\|")


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
    if _SUBQUERY.match(t):
        t = f"({t})"  # a scalar subquery keeps its parentheses
    return f"typeof({t}) IN {_INTS_LIST}"


_SUBQUERY = re.compile(r"(?:SELECT|WITH|FROM)(?![\w$])", re.IGNORECASE)


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


_GROUP_THEN_MUL = re.compile(r"\)\s*(?:\*|div(?![\w$]))", re.IGNORECASE)
_GROUP_STOP_WORDS = frozenset(
    "and or not case when then else end is in like between".split()
)


def _leading_mul_group(sql: str) -> tuple[int, int] | None:
    """The first ``(…)`` group whose own operators are all ``*``/``div``
    (at least one), that no call name, postfix or operator of its level
    precedes, and that a ``*`` or ``div`` follows."""
    if not _GROUP_THEN_MUL.search(sql):
        return None
    toks, pairs = _tokens(sql)
    for a, t in enumerate(toks):
        b = pairs.get(a)
        if t.key != "(" or b is None:
            continue
        has_mul, k = False, a + 1
        while k < b:
            u = toks[k]
            if u.key in ("(", "[", "{") and k in pairs:
                k = pairs[k] + 1
                continue
            # the code characters: an operator, or a number's exponent sign
            text = "" if u.kind in ("word", "quoted") or sql[u.start] == "'" else sql[u.start : u.end]
            if u.key in _GROUP_STOP_WORDS or any(c in "+-/%<>=!|&^~,:" for c in text):
                break
            has_mul = has_mul or u.key == "div" or "*" in text
            k += 1
        if k < b or not has_mul:
            continue
        if a:
            p = toks[a - 1]
            last = sql[p.end - 1]
            if last in "_$)]'\"*%/" or (p.kind != "op" and last.isalnum() and p.key not in _BRACKET_NEVER_CALL_KEYWORDS):
                continue
        if b + 1 < len(toks) and (toks[b + 1].key.startswith("*") or toks[b + 1].key == "div"):
            return t.start, toks[b].start
    return None


def _flatten_leading_mul_groups(sql: str) -> str:
    """See _rewrite_divmod_null: unwrap ``(a * b div c)`` when the group
    starts a multiplicative chain, until none is left."""
    while (group := _leading_mul_group(sql)) is not None:
        i, j = group
        sql = sql[:i] + " " + sql[i + 1 : j] + " " + sql[j + 1 :]
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
    ``10%`` percent spellings and macro expansions are already resolved."""
    if not _DIVMOD_OP.search(sql):
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
    return _rewrite_operators(sql, _DIVMOD) if _in_code(_DIVMOD_OP, sql) else sql


def _divide(site) -> str:
    # DuckDB '/' ALWAYS divides as DOUBLE (probed: typeof(1.5/2.5) =
    # DOUBLE) where Spark keeps decimal division — -2/3 at decimal scale 6
    # (-0.666667) vs the double -0.666... is a visible value divergence.
    # The dividend cast forces the double path BEFORE dividing (an outer
    # cast would keep decimal's truncated scale).  '%' keeps its operand
    # types in both engines.  (Interval division is a documented residual
    # — the cast rejects it.)  The dividend is the whole left-hand
    # multiplicative chain: ``a * b / c`` is ``try_divide(a * b, c)``.
    return f"try_divide(CAST({site.operands[0]} AS DOUBLE), {site.operands[1]})"


def _modulo(site) -> str:
    return f"try_mod({site.operands[0]}, {site.operands[1]})"


def _int_divide_chain(site) -> str:
    """The ``*``/``div`` chain around a ``//``-emitted ``div``: DuckDB
    truncates ONLY while EVERY leaf of the chain so far is integral (7//2
    → 3 but 7.5//2 → 3.75 and 1//1//2 → 0, probed).  Fold left with a
    per-div-stage CASE whose condition is prefix-leaf integrality — one
    replacement per chain, so intermediate double typing can't poison
    later stages."""
    texts = site.operands
    x = texts[0]
    for k, (kind, leaf) in enumerate(zip(site.ops, texts[1:]), 1):
        if kind == "*":
            x = f"({x} * {leaf})"
            continue
        cond = " AND ".join(_leaf_int_cond(t) for t in texts[: k + 1])
        x = (
            f"(CASE WHEN {cond} "
            f"THEN CAST(CAST(try_divide({x}, {leaf}) AS BIGINT) AS DOUBLE) "
            f"ELSE try_divide(CAST({x} AS DOUBLE), {leaf}) END)"
        )
    return x


_DIVMOD = {
    "/": _divide,
    "%": _modulo,
    "div": _Chain(frozenset({"*", "div"}), _int_divide_chain),
}


_WINDOW_FILTER = re.compile(r"\bFILTER\s*\(\s*WHERE\b", re.IGNORECASE)
_FILTER_TAIL = re.compile(r"\s*FILTER\s*\(\s*WHERE\b", re.IGNORECASE)
_OVER_TAIL = re.compile(r"\s*(OVER\b)\s*", re.IGNORECASE)


def _call_head(args) -> str:
    """``name(`` as the call spells it."""
    return args.sql[args.start : args.sql.index("(", args.start) + 1]


def _window_filter(args):
    # the aggregate's FILTER (WHERE p) clause, and the OVER after it
    m = _FILTER_TAIL.match(args.sql, args.close + 1)
    if m is None:
        return None
    close = _match(args.sql, args.sql.index("(", m.start()))
    over = close and _OVER_TAIL.match(args.sql, close + 1)
    if not over:
        return None
    pred = args.sql[m.end() : close].strip()
    inner = ",".join(args).strip()
    if inner == "*":
        if args.name.lower() != "count":
            return None
        new_args = f"CASE WHEN {pred} THEN 1 END"
    else:
        dm = re.match(r"\s*DISTINCT\b", inner, re.IGNORECASE)
        rest = inner[dm.end() :].strip() if dm else inner
        if not rest or len(args) > 1:
            return None  # multi-arg aggregates don't rewrite soundly
        new_args = f"CASE WHEN {pred} THEN {rest} END"
        if dm:
            new_args = "DISTINCT " + new_args
    return _call_head(args) + new_args + ") ", over.start(1)


class _EveryName(dict):
    """A call table whose one handler takes a call of any name."""

    def __init__(self, fn):
        super().__init__()
        self.fn = fn

    def __contains__(self, name) -> bool:
        return True

    def __getitem__(self, name):
        return self.fn


_WINDOW_FILTERS = _EveryName(_window_filter)


def _rewrite_window_filter(sql: str) -> str:
    """DuckDB allows ``agg(x) FILTER (WHERE p) OVER w``; Spark raises
    "Window aggregate function with filter predicate is not supported"
    (probed).  Rewrite the FILTER into the argument —
    ``agg(CASE WHEN p THEN x END) OVER w`` (``count(*)`` counts a CASE
    over 1) — which matches DuckDB because every rewritten aggregate
    skips NULLs.  A ``DISTINCT`` argument keeps its keyword ahead of the
    CASE so the count-distinct window pass below can pick it up.
    GROUP-BY FILTER (no trailing OVER) is Spark-native and untouched."""
    return _rewrite_calls(sql, _WINDOW_FILTERS) if _WINDOW_FILTER.search(sql) else sql


_DISTINCT_WIN = re.compile(
    r"\b(count|min|max)\s*\(\s*DISTINCT\b", re.IGNORECASE
)
_WINDOW_NAME = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _distinct_window(args):
    dm = re.match(r"\s*DISTINCT\b", args[0], re.IGNORECASE)
    over = _OVER_TAIL.match(args.sql, args.close + 1)
    if dm is None or over is None or len(args) > 1:
        return None
    expr = args[0][dm.end() :].strip()
    if not expr:
        return None
    if args.name.lower() in ("min", "max"):  # DISTINCT is a no-op for min/max
        return _call_head(args) + expr + ")"
    # the end of the OVER target: (spec) or a window name
    t = over.end()
    if args.sql.startswith("(", t):
        over_end = _match(args.sql, t)
        if over_end is None:
            return None
        over_end += 1
    else:
        wm = _WINDOW_NAME.match(args.sql, t)
        if not wm:
            return None
        over_end = wm.end()
    over_txt = args.sql[over.start(1) : over_end]
    return f"coalesce(size(collect_set({expr}) {over_txt}), 0)", over_end


_DISTINCT_WINDOWS = dict.fromkeys(("count", "min", "max"), _distinct_window)


def _rewrite_count_distinct_window(sql: str) -> str:
    """DuckDB allows DISTINCT aggregates as window functions; Spark raises
    DISTINCT_WINDOW_FUNCTION_UNSUPPORTED (probed).  Equivalences that
    hold per-frame: ``count(DISTINCT x) OVER w`` →
    ``coalesce(size(collect_set(x) OVER w), 0)`` (both skip NULLs; the
    coalesce covers an empty frame where DuckDB counts 0), and
    ``min/max(DISTINCT x)`` ≡ ``min/max(x)``.  ``sum/avg(DISTINCT)``
    have no lossless window rewrite and keep Spark's error."""
    return _rewrite_calls(sql, _DISTINCT_WINDOWS) if _DISTINCT_WIN.search(sql) else sql


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


_OPERATOR_PACK = {
    "->": _json_arrow,
    "->>": _json_arrow,
    "^@": _starts_with,
    "^": _power,
    "**": _power,
    "similar to": _regex_match,
    "not similar to": _regex_match,
    "~": _regex_match,
    "!~": _regex_match,
    "glob": _glob,
    "not glob": _glob,
}
_PACK_HINT = re.compile(r"->|\^|\*\*|~|similar|glob", re.IGNORECASE)


def _rewrite_operator_pack(sql: str) -> str:
    """The JSON arrows, ``^@``, ``^``/``**``, SIMILAR TO, ``~``/``!~`` and
    GLOB in one operator walk."""
    return _rewrite_operators(sql, _OPERATOR_PACK) if _in_code(_PACK_HINT, sql) else sql
