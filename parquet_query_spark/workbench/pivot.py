"""DuckDB ``PIVOT`` statement and ``COLUMNS(...)`` expression support.

The reference forwards user SQL to DuckDB untouched
(``/root/reference/src/duckdb.ts:46-49``), where both constructs work out
of the box.  Spark SQL has a PIVOT *clause* but demands an explicit
``IN (...)`` value list; DuckDB's statement auto-discovers the values.
``COLUMNS(*)`` / ``COLUMNS('regex')`` templates a select-list expression
over matching columns and has no Spark equivalent at all.  Both need the
source schema, so they live at the engine layer (like SUMMARIZE) rather
than in the pure-text dialect shim.

Scale notes: the PIVOT path is ``df.groupBy(...).pivot(on)`` — Spark's
pivot runs one bounded distinct job to discover values (capped by
``spark.sql.pivotMaxValues``) and then a single map-side-combined
aggregation; column naming (``value`` for one agg, ``value_alias`` for
several) matches DuckDB's.  COLUMNS expansion is pure text templating —
zero runtime cost.
"""

from __future__ import annotations

import re

from parquet_query_spark.session import temp_view
from parquet_query_spark.workbench.dialect_core import (
    _brackets,
    _code_mask,
    _keyword_matches,
    _match,
    _split_call_args,
    _split_top,
)

_PIVOT = re.compile(r"^\s*PIVOT\b", re.IGNORECASE)
_IDENT = r"[A-Za-z_][A-Za-z_0-9]*"


def is_pivot_statement(statement: str) -> bool:
    return bool(_PIVOT.match(statement))


def parse_pivot(statement: str) -> dict:
    """Parse ``PIVOT <source> ON <col> [USING <agg> [AS alias], ...]
    [GROUP BY <cols>] [ORDER BY ... / LIMIT ...]``.

    Returns dict(source, on, using=[(expr, alias|None), ...] | None,
    group_by=[col, ...] | None, tail=str).  Raises ValueError on the
    DuckDB forms outside this scope (multiple ON columns, IN lists).
    """
    m = _PIVOT.match(statement)
    body = statement[m.end() :].strip().rstrip(";")
    mask = _code_mask(body)

    def find_kw(pattern):
        ms = [
            k
            for k in _keyword_matches(body, mask, pattern)
            if _brackets(body).depth[k.start()] == 0
        ]
        return ms[0] if ms else None

    on_kw = find_kw(r"\bON\b")
    if on_kw is None:
        raise ValueError("PIVOT: expected ON <column>")
    using_kw = find_kw(r"\bUSING\b")
    group_kw = find_kw(r"\bGROUP\s+BY\b")
    tail_kw = find_kw(r"\b(?:ORDER\s+BY|LIMIT)\b")

    source = body[: on_kw.start()].strip()
    on_end = min(
        x.start() for x in (using_kw, group_kw, tail_kw) if x is not None
    ) if any((using_kw, group_kw, tail_kw)) else len(body)
    on_text = body[on_kw.end() : on_end].strip()
    if not re.fullmatch(_IDENT, on_text):
        raise ValueError(
            f"PIVOT: only a single ON column is supported, got {on_text!r}"
        )

    using = None
    if using_kw is not None:
        using_end = min(
            x.start() for x in (group_kw, tail_kw) if x is not None and x.start() > using_kw.end()
        ) if any(x is not None and x.start() > using_kw.end() for x in (group_kw, tail_kw)) else len(body)
        using_text = body[using_kw.end() : using_end]
        using = []
        for item in [i for i in _split_top(using_text) if i.strip()]:
            am = re.search(r"\s+AS\s+(" + _IDENT + r")\s*$", item, re.IGNORECASE)
            if am:
                using.append((item[: am.start()].strip(), am.group(1)))
            else:
                using.append((item.strip(), None))

    group_by = None
    if group_kw is not None:
        group_end = tail_kw.start() if tail_kw is not None and tail_kw.start() > group_kw.end() else len(body)
        group_by = [
            g.strip().strip('"').strip("`")
            for g in body[group_kw.end() : group_end].split(",")
            if g.strip()
        ]

    tail = body[tail_kw.start() :].strip() if tail_kw is not None else ""
    return {
        "source": source,
        "on": on_text,
        "using": using,
        "group_by": group_by,
        "tail": tail,
    }


def _referenced_idents(expr: str) -> set[str]:
    mask = _code_mask(expr)
    out = set()
    for m in re.finditer(_IDENT, expr):
        if not all(mask[m.start() : m.end()]):
            continue
        nxt = expr[m.end() :].lstrip()
        if nxt.startswith("("):  # function name, not a column
            continue
        out.add(m.group(0).lower())
    return out


def _resolve_using_agg(base, expr: str):
    """A PIVOT USING aggregate, dialect-rewritten and analyzed against the
    pivot source (limit(0).agg is analysis-only — no job) through the
    statement retry loop.  Macro expansion can leave gcd/list_sum/``//``/…
    in the aggregate, which never passes through the statement-level shim
    on this path (fuzz v6), and an aggregate can need a retry hint (fuzz
    v6 seed 99180: ``sum(len(range(-2, -2)))`` reads ``len`` as
    ``size``)."""
    from pyspark.sql import functions as F

    from parquet_query_spark.workbench.dialect import analyze_dialect

    def analyze(text: str):
        m = re.match(r"(?is)^\s*SELECT\s+(.*)\s+AS\s+__pv_u\s*$", text)
        c = F.expr(m.group(1) if m else expr)
        base.limit(0).agg(c)
        return c

    return analyze_dialect(f"SELECT {expr} AS __pv_u", analyze)


def run_pivot(engine, statement: str, raw_statement: str | None = None):
    """Execute a DuckDB PIVOT statement on the engine; returns a DataFrame.

    ``raw_statement`` is the PRE-macro-expansion text when the engine has
    one: DuckDB decides the implicit group columns from the USING
    arguments BEFORE macro binding, so ``USING sum(m(v))`` consumes ``v``
    even when the macro body ignores its argument — after our earlier
    textual expansion that reference can vanish (fuzz v6 seeds
    90151/90166: a constant-body macro left ``v`` as a spurious implicit
    group column)."""
    from pyspark.sql import functions as F

    p = parse_pivot(statement)
    src = p["source"]
    if src.startswith("(") and src.endswith(")"):
        src = src[1:-1]
        base = engine.sql(src)
    elif re.match(r"^(SELECT|WITH|VALUES)\b", src, re.IGNORECASE):
        base = engine.sql(src)
    else:
        base = engine.sql(f"SELECT * FROM {src}")

    cols_lower = {c.lower(): c for c in base.columns}
    on_col = cols_lower.get(p["on"].lower(), p["on"])

    using = p["using"] or [("count(*)", None)]
    aggs = []
    for expr, alias in using:
        c = _resolve_using_agg(base, expr)
        if alias is not None:
            c = c.alias(alias)
        aggs.append(c)

    if p["group_by"] is not None:
        groups = [cols_lower.get(g.lower(), g) for g in p["group_by"]]
    else:
        # DuckDB default: every column not pivoted on and not consumed by
        # a USING aggregate is an implicit group column.  Consumption is
        # judged on the PRE-expansion text ALONE when it parses — DuckDB
        # decides before macro binding, so a macro body that reaches a
        # source column the raw call never names (e.g. via a scalar
        # subquery: probed r12, ``USING sum(m(v))`` with ``m(a) :=
        # a + (SELECT max(w) FROM p)`` keeps ``w`` as a group column) must
        # not be over-consumed by post-expansion references (ADVICE r12).
        used = set()
        raw_used = None
        if raw_statement is not None:
            try:
                raw_using = parse_pivot(raw_statement)["using"]
                raw_used = set()
                for expr, _ in raw_using or []:
                    raw_used |= _referenced_idents(expr)
            except ValueError:
                raw_used = None  # raw unparseable -> post-expansion refs
        if raw_used is not None:
            used = raw_used
        else:
            for expr, _ in using:
                used |= _referenced_idents(expr)
        groups = [
            c
            for c in base.columns
            if c.lower() != on_col.lower() and c.lower() not in used
        ]

    # DuckDB PIVOT drops rows whose pivot key is NULL (no column for
    # them); Spark's pivot would synthesize a `null` column (r8
    # statement-fuzz over the NULL-rich table, seeds 2724/2809/...)
    out = (
        base.where(F.col(on_col).isNotNull())
        .groupBy(*groups)
        .pivot(on_col)
        .agg(*aggs)
    )
    if len(using) == 1 and using[0][1] is not None:
        # DuckDB appends an explicit USING alias even with one aggregate
        # (column "F" → "F_s"); Spark only does so with several.
        alias = using[0][1]
        gset = {g.lower() for g in groups}
        for c in out.columns:
            if c.lower() not in gset:
                out = out.withColumnRenamed(c, f"{c}_{alias}")
    if p["tail"]:
        # engine.sql, not spark.sql: the tail may carry dialect surface
        # (ORDER BY ALL, renamed functions) that raw Spark rejects
        with temp_view(out, "pivot_result") as view:
            out = engine.sql(f"SELECT * FROM {view} {p['tail']}")
    return out


# ── COLUMNS(...) expansion ──────────────────────────────────────────────

_COLUMNS_CALL = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)


def has_columns_expr(statement: str) -> bool:
    mask = _code_mask(statement)
    return any(
        all(mask[m.start() : m.end() - 1])
        for m in _COLUMNS_CALL.finditer(statement)
    )


_FROM_SRC = re.compile(
    r"\bFROM\s+((?:'[^']*')|(?:" + _IDENT + r"(?:\.(?:" + _IDENT + r"|parquet|csv|json|ndjson))*))",
    re.IGNORECASE,
)


def _resolve_from_schema(engine, statement, mask, construct):
    """Locate the first top-level FROM and return (match, source columns).
    Supports a single table, path literal, or parenthesized subquery."""
    fm = None
    for m in _keyword_matches(statement, mask, r"\bFROM\b"):
        if _brackets(statement).depth[m.start()] == 0:
            fm = m
            break
    if fm is None:
        raise ValueError(f"{construct} needs a FROM clause to resolve against")
    after = statement[fm.end() :].lstrip()
    if after.startswith("("):
        # subquery source: take the balanced-paren body
        off = fm.end() + (len(statement[fm.end() :]) - len(after))
        end = _match(statement, off)
        if end is None:
            raise ValueError("unbalanced subquery after FROM")
        src = statement[off : end + 1]
    else:
        sm = _FROM_SRC.match(statement, fm.start())
        if sm is None:
            raise ValueError(
                f"{construct} is supported only over a single table, path "
                "literal, or parenthesized subquery FROM source"
            )
        src = sm.group(1)
    probe = engine.sql(f"SELECT * FROM {src} __cols_src WHERE 1=0")
    return fm, probe.columns, dict(probe.dtypes)


_STAR_REPLACE = re.compile(r"\*\s+REPLACE\s*\(", re.IGNORECASE)


def has_star_replace(statement: str) -> bool:
    mask = _code_mask(statement)
    return any(
        all(mask[m.start() : m.end() - 1])
        for m in _STAR_REPLACE.finditer(statement)
    )


def expand_star_replace(engine, statement: str) -> str:
    """DuckDB ``SELECT * REPLACE (expr AS col, ...)`` — the star expands
    with the named columns replaced by the expressions IN PLACE (column
    order preserved, unlike an ``* EXCEPT + append`` rewrite).  Needs the
    source schema, so it lives at the engine layer with COLUMNS."""
    mask = _code_mask(statement)
    m = next(
        (
            c
            for c in _STAR_REPLACE.finditer(statement)
            if all(mask[c.start() : c.end() - 1])
        ),
        None,
    )
    if m is None:
        return statement
    _, schema_cols, _types = _resolve_from_schema(engine, statement, mask, "* REPLACE")
    parsed = _split_call_args(statement, m.end() - 1)
    if parsed is None:
        raise ValueError("unbalanced * REPLACE (...) list")
    args, close = parsed
    repl: dict[str, str] = {}
    for item in args:
        am = re.search(r"\s+AS\s+(" + _IDENT + r")\s*$", item, re.IGNORECASE)
        if not am:
            raise ValueError("* REPLACE entries must be '<expr> AS <column>'")
        col = am.group(1)
        matches = [c for c in schema_cols if c.lower() == col.lower()]
        if not matches:
            raise ValueError(f"* REPLACE names unknown column {col!r}")
        repl[matches[0]] = item[: am.start()].strip()
    out = ", ".join(
        f"({repl[c]}) AS `{c}`" if c in repl else f"`{c}`" for c in schema_cols
    )
    return statement[: m.start()] + out + statement[close + 1 :]


def expand_columns(engine, statement: str) -> str:
    """Expand ``COLUMNS(*)`` / ``COLUMNS('regex')`` select-list templates.

    DuckDB semantics: the smallest select-list item containing the
    COLUMNS call is replicated once per matching column, with the call
    replaced by the column reference; the result column keeps the source
    column's name (explicit ``AS`` aliases apply only to single-column
    matches).  Scope: the statement's first top-level FROM names one
    table / path literal (joins and subquery sources stay out — Spark's
    error will name the construct).
    """
    mask = _code_mask(statement)
    fm, schema_cols, col_types = _resolve_from_schema(engine, statement, mask, "COLUMNS(...)")

    sel = [
        k
        for k in _keyword_matches(statement, mask, r"\bSELECT\b")
        if _brackets(statement).depth[k.start()] == 0
    ]
    if not sel:
        raise ValueError("COLUMNS(...) outside a SELECT list is unsupported")
    sel_start = sel[0].end()
    sel_end = fm.start()
    items = [i for i in _split_top(statement[sel_start:sel_end]) if i.strip()]
    out_items: list[str] = []
    for item in items:
        imask = _code_mask(item)
        calls = [
            c
            for c in _COLUMNS_CALL.finditer(item)
            if all(imask[c.start() : c.end() - 1])
        ]
        if not calls:
            out_items.append(item.strip())
            continue
        if len(calls) > 1:
            raise ValueError("multiple COLUMNS(...) in one select item")
        call = calls[0]
        parsed = _split_call_args(item, call.end() - 1)
        if parsed is None:
            raise ValueError("unbalanced COLUMNS(...) call")
        args, close = parsed
        arg = args[0].strip() if args else ""
        excl = re.fullmatch(
            r"\*\s+EXCLUDE\s*\(\s*(.*?)\s*\)", arg, re.IGNORECASE | re.DOTALL
        ) or re.fullmatch(
            r"\*\s+EXCLUDE\s+(\w+)", arg, re.IGNORECASE
        )
        lam = re.fullmatch(r"(\w+)\s*->\s*(.+)", arg, re.DOTALL)
        if arg == "*":
            matched = list(schema_cols)
        elif excl:
            dropped = {
                c.strip().strip('"`').lower()
                for c in excl.group(1).split(",")
            }
            missing = dropped - {c.lower() for c in schema_cols}
            if missing:
                # DuckDB binder errors on unknown EXCLUDE names
                raise ValueError(
                    f'Column "{sorted(missing)[0]}" in EXCLUDE list not '
                    "found in FROM clause"
                )
            matched = [c for c in schema_cols if c.lower() not in dropped]
        elif lam:
            # DuckDB lambda form filters column NAMES: evaluate the
            # predicate once over the schema names as rows
            var, body = lam.group(1), lam.group(2)
            vals = ", ".join(
                "('" + c.replace("'", "''") + "')" for c in schema_cols
            )
            # the predicate is DuckDB-dialect text (SIMILAR TO, ~, ^@,
            # method chaining, ...) — run it through the shim before
            # Spark parses it (r8 statement-fuzz seeds 2447/2484)
            from parquet_query_spark.workbench.dialect import rewrite_duckdb_dialect

            rows = engine.spark.sql(
                rewrite_duckdb_dialect(
                    f"SELECT {var} FROM (VALUES {vals}) AS __cols({var}) "
                    f"WHERE {body}"
                )
            ).collect()
            matched = [r[0] for r in rows]
        else:
            lit = re.fullmatch(r"'((?:[^']|'')*)'", arg)
            if not lit:
                raise ValueError(
                    "COLUMNS(...) takes *, * EXCLUDE (...), a lambda over "
                    "the column name, or a regex string literal"
                )
            pat = re.compile(lit.group(1).replace("''", "'"))
            matched = [c for c in schema_cols if pat.search(c)]
        if not matched:
            raise ValueError(f"COLUMNS({arg}) matched no columns")
        alias_m = re.search(
            r"\s+AS\s+(" + _IDENT + r")\s*$", item, re.IGNORECASE
        )
        body_end = alias_m.start() if alias_m else len(item)
        for col in matched:
            expanded = (
                item[: call.start()] + f"`{col}`" + item[close + 1 : body_end]
            ).strip()
            # min/max over a MAP column: Spark cannot order maps
            # (INVALID_ORDERING_TYPE) where DuckDB compares them by
            # INSERTION-ORDER entry list (probed r11: positional, NOT
            # key-sorted) — pick the same winner with min_by/max_by over
            # map_entries() (Spark preserves stored entry order) so
            # max(COLUMNS(*)) works over map-bearing tables (fuzz r10
            # statement seeds 6540/6752).  Scope: only a BARE
            # min(`col`)/max(`col`) expansion is rewritten — a composite
            # item like min(COLUMNS(*)) + 1 still hits Spark's
            # INVALID_ORDERING_TYPE (error, not wrong answer); and
            # min_by ties between maps differing only in entry order pick
            # a nondeterministic winner (same entries ⇒ equal sort key).
            mm = re.fullmatch(
                rf"(?is)\s*(min|max)\s*\(\s*`{re.escape(col)}`\s*\)\s*",
                expanded,
            )
            if mm and col_types.get(col, "").startswith("map<"):
                fn = mm.group(1).lower()
                expanded = f"{fn}_by(`{col}`, map_entries(`{col}`))"
            if alias_m and len(matched) == 1:
                alias = alias_m.group(1)
            elif expanded == f"`{col}`":
                alias = None  # bare column keeps its own name
            else:
                alias = col  # DuckDB names fn(COLUMNS(*)) after the column
            out_items.append(
                expanded if alias is None else f"{expanded} AS `{alias}`"
            )
    return (
        statement[:sel_start]
        + " "
        + ", ".join(out_items)
        + " "
        + statement[sel_end:]
    )
