"""DuckDB PREPARE / EXECUTE / DEALLOCATE and transaction statements.

The reference app passes every statement through to DuckDB untouched
(``/root/reference/src/duckdb.ts:46-49``), so a DuckDB-habituated user
can PREPARE a parameterized statement and EXECUTE it repeatedly from
the workbench.  Semantics probed on the bundled DuckDB 1.0.0 (r9):

- ``PREPARE name AS <stmt>`` — parameters are ``$1``/``$2`` positional,
  ``$name`` named, or ``?`` positional-in-order; returns an empty
  effect result.  Re-PREPARE of the same name replaces it.
- ``EXECUTE name(args)`` / zero-arg ``EXECUTE name`` (``EXECUTE name()``
  is a DuckDB parse error — mirrored); named args bind as ``a := expr``.
  Args are expressions: substitution wraps each in parens except simple
  literals, so ``EXECUTE p(1+1)`` into ``$1 * 2`` is 4, not 3 (matching
  DuckDB's evaluate-then-bind), while ``LIMIT $1`` still receives the
  bare literal Spark's LIMIT clause requires.
- ``DEALLOCATE [PREPARE] name`` — silently no-ops on a missing name
  (probed); EXECUTE of a missing/deallocated name errors with DuckDB's
  wording.
- ``BEGIN [TRANSACTION]`` / ``START TRANSACTION`` / ``COMMIT`` /
  ``ROLLBACK`` / ``ABORT`` — accepted as empty effect statements.
  Scope note: Spark has no multi-statement transactions; the workbench
  is a single-user session where every statement auto-commits, so the
  markers are accepted for script compatibility rather than providing
  isolation (the reference's DuckDB-WASM session is equally
  single-user).

Validation is lazy: DuckDB binds at PREPARE time, this engine at first
EXECUTE — a body error surfaces one statement later than DuckDB's.
"""

from __future__ import annotations

import re

from parquet_query_spark.workbench.dialect_core import _code_mask, _split_call_args

_PREPARE = re.compile(
    r"^\s*PREPARE\s+([A-Za-z_][\w$]*)\s+AS\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_EXECUTE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_][\w$]*)\s*(\(.*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DEALLOCATE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_][\w$]*)\s*;?\s*$", re.IGNORECASE
)
_TXN = re.compile(
    r"^\s*(BEGIN(\s+(TRANSACTION|WORK))?|START\s+TRANSACTION|COMMIT|"
    r"ROLLBACK|ABORT)\s*;?\s*$",
    re.IGNORECASE,
)
_NAMED_ARG = re.compile(r"^\s*([A-Za-z_][\w$]*)\s*:=\s*(.+)$", re.DOTALL)
# Non-negative literals only: negative numbers must parenthesize, or
# ``EXECUTE p(-1)`` into ``SELECT 2-$1`` expands to ``2--1`` and the
# comment stripper eats the tail (ADVICE r9).  Bare literals exist solely
# for the LIMIT-clause carve-out, which never needs a sign.
_SIMPLE_ARG = re.compile(r"^\s*(?:\d+(?:\.\d+)?|'(?:[^']|'')*'|NULL)\s*$", re.IGNORECASE)
_PARAM = re.compile(r"\$(\d+)|\$([A-Za-z_][\w$]*)|\?")


def is_prepare(stmt: str) -> bool:
    return _PREPARE.match(stmt) is not None


def is_execute(stmt: str) -> bool:
    return _EXECUTE.match(stmt) is not None


def is_deallocate(stmt: str) -> bool:
    return _DEALLOCATE.match(stmt) is not None


def is_transaction_stmt(stmt: str) -> bool:
    return _TXN.match(stmt) is not None


def register_prepared(store: dict, stmt: str) -> None:
    m = _PREPARE.match(stmt)
    body = m.group(2).strip().rstrip(";").strip()
    store[m.group(1).lower()] = body


def deallocate(store: dict, stmt: str) -> None:
    store.pop(_DEALLOCATE.match(stmt).group(1).lower(), None)


def _render_arg(text: str) -> str:
    t = text.strip()
    # bare literal stays bare (LIMIT $1 needs an unparenthesized literal);
    # anything else parenthesizes so EXECUTE p(1+1) binds the VALUE
    return t if _SIMPLE_ARG.match(t) else f"({t})"


def expand_execute(store: dict, stmt: str) -> str:
    """Expand ``EXECUTE name(args)`` into the stored statement with every
    parameter substituted textually (mask-aware: a ``$1`` inside a string
    literal of the body, dollar-quoted ones included, is data, not a
    parameter)."""
    m = _EXECUTE.match(stmt)
    name = m.group(1).lower()
    if name not in store:
        raise ValueError(f'Prepared statement "{m.group(1)}" does not exist')
    args: list[str] = []
    if m.group(2) is not None and re.sub(r"\s+", "", m.group(2)) == "()":
        # DuckDB parse-errors on an empty argument list — including
        # whitespace-only parens ``EXECUTE p( )`` (probed r10/r11);
        # zero-arg EXECUTE omits the parens entirely.
        raise ValueError('Parser Error: syntax error at or near ")"')
    if m.group(2):
        parsed = _split_call_args(m.group(2), 0)
        if parsed is None:
            raise ValueError(f"cannot parse EXECUTE arguments: {m.group(2)}")
        args = [a for a in parsed[0] if a.strip()]
    named: dict[str, str] = {}
    positional: list[str] = []
    for a in args:
        nm = _NAMED_ARG.match(a)
        if nm:
            named[nm.group(1).lower()] = _render_arg(nm.group(2))
        else:
            positional.append(_render_arg(a))
    body = store[name]
    mask = _code_mask(body)
    out: list[str] = []
    last = 0
    qmark = 0  # next ?-parameter index
    for pm in _PARAM.finditer(body):
        if not all(mask[i] for i in range(pm.start(), pm.end())):
            continue
        if pm.group(1) is not None:  # $N
            idx = int(pm.group(1)) - 1
            if idx >= len(positional):
                raise ValueError(
                    f"EXECUTE {name}: parameter ${pm.group(1)} not supplied"
                )
            rep = positional[idx]
        elif pm.group(2) is not None:  # $name
            key = pm.group(2).lower()
            if key not in named:
                raise ValueError(f"EXECUTE {name}: parameter ${pm.group(2)} not supplied")
            rep = named[key]
        else:  # ?
            if qmark >= len(positional):
                raise ValueError(f"EXECUTE {name}: too few ? parameters")
            rep = positional[qmark]
            qmark += 1
        out.append(body[last : pm.start()])
        out.append(rep)
        last = pm.end()
    out.append(body[last:])
    return "".join(out)
