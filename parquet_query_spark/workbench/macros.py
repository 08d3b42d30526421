"""DuckDB ``CREATE MACRO`` / ``DROP MACRO`` support (scalar + table).

The reference forwards these to DuckDB untouched (src/duckdb.ts:46-49),
where macros are session catalog objects.  Here they live on the Engine
instance; calls are expanded textually (lexer-aware, identifier-boundary-
aware) before the dialect shim runs.  DuckDB performs parameter
substitution on the parsed AST and rejects recursive macros at creation
time, so textual expansion reproduces the semantics for the scope
accepted here: positional parameters, ``name := default`` defaults
(overridable by name only), and ``AS TABLE`` table macros in FROM
position.

Pinned DuckDB behaviors (probed on the bundled build):
- plain parameters cannot be passed by name; defaults can ONLY be
  overridden by name (``defarg(3, 2)`` errors, ``defarg(3, b := 2)`` ok)
- ``CREATE OR REPLACE`` replaces; a plain re-CREATE of an existing name
  errors ("already exists")
- ``DROP MACRO missing`` errors unless ``IF EXISTS``
- recursion is rejected at creation ("does not exist" while binding)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from parquet_query_spark.workbench.dialect_core import (
    _brackets,
    _code_mask,
    _enclosing,
    _match,
    _rewrite_calls,
    _split_call_args,
)

_CREATE_MACRO = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO\s+"
    r"([A-Za-z_]\w*)\s*(?=\()",
    re.IGNORECASE | re.DOTALL,
)
# DuckDB drops table macros via ``DROP MACRO TABLE name`` (separate
# namespace from scalar macros); here both kinds live in one registry, so
# the TABLE keyword is accepted and the drop applies to whichever kind the
# name holds (r8 statement-fuzz finding: the old pattern read ``TABLE`` as
# the macro NAME).
_DROP_MACRO = re.compile(
    r"^\s*DROP\s+MACRO\s+(?:TABLE\s+)?(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
_AS_KW = re.compile(r"\s*AS\s+(TABLE\s+)?", re.IGNORECASE | re.DOTALL)
_PARAM_DEFAULT = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", re.DOTALL
)
_PARAM_PLAIN = re.compile(r"^\s*([A-Za-z_]\w*)\s*$")
_NAMED_CALL_ARG = re.compile(r"^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", re.DOTALL)
_IDENT_TOKEN = re.compile(r"[A-Za-z_]\w*")

_MAX_EXPANSIONS = 200


@dataclass
class Macro:
    name: str
    positional: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)  # lowercase name → expr
    body: str = ""
    is_table: bool = False

    @property
    def signature(self) -> str:
        return f"{self.name}({', '.join(self.positional)})"


def is_create_macro(sql: str) -> bool:
    return _CREATE_MACRO.match(sql) is not None


def is_drop_macro(sql: str) -> bool:
    return _DROP_MACRO.match(sql) is not None


def parse_create_macro(sql: str) -> Macro:
    m = _CREATE_MACRO.match(sql)
    if m is None:
        raise ValueError("not a CREATE MACRO statement")
    or_replace = bool(m.group(1))
    name = m.group(2)
    parsed = _split_call_args(sql, m.end())
    if parsed is None:
        raise ValueError(f"CREATE MACRO {name}: unbalanced parameter list")
    raw_params, close = parsed
    mac = Macro(name=name)
    for p in raw_params:
        if not p.strip():
            continue
        dm = _PARAM_DEFAULT.match(p)
        if dm:
            mac.defaults[dm.group(1).lower()] = dm.group(2).strip()
            continue
        pm = _PARAM_PLAIN.match(p)
        if pm is None:
            raise ValueError(f"CREATE MACRO {name}: bad parameter {p.strip()!r}")
        if mac.defaults:
            raise ValueError(
                f"CREATE MACRO {name}: positional parameter after default"
            )
        mac.positional.append(pm.group(1))
    askw = _AS_KW.match(sql, close + 1)
    if askw is None:
        raise ValueError(f"CREATE MACRO {name}: expected AS <expression>")
    mac.is_table = bool(askw.group(1))
    mac.body = sql[askw.end() :].strip().rstrip(";").strip()
    if not mac.body:
        raise ValueError(f"CREATE MACRO {name}: empty body")
    mac._or_replace = or_replace  # type: ignore[attr-defined]
    return mac


def register_macro(macros: dict[str, Macro], sql: str) -> Macro:
    mac = parse_create_macro(sql)
    key = mac.name.lower()
    if key in macros and not getattr(mac, "_or_replace", False):
        raise ValueError(f"Macro with name {mac.name} already exists")
    # DuckDB rejects recursive macros at creation ("does not exist"); the
    # same check here keeps the expansion finite.
    body_mask = _code_mask(mac.body)
    for tok in _IDENT_TOKEN.finditer(mac.body):
        if tok.group(0).lower() == key and all(
            body_mask[i] for i in range(tok.start(), tok.end())
        ):
            raise ValueError(
                f"CREATE MACRO {mac.name}: macro cannot reference itself"
            )
    macros[key] = mac
    return mac


def drop_macro(macros: dict[str, Macro], sql: str) -> None:
    m = _DROP_MACRO.match(sql)
    if m is None:
        raise ValueError("not a DROP MACRO statement")
    key = m.group(2).lower()
    if key not in macros and not m.group(1):
        raise ValueError(f"Macro with name {m.group(2)} does not exist")
    macros.pop(key, None)


_ARROW = re.compile(r"->")


def _lambda_shadow_spans(body: str, mask: list[bool]) -> list[tuple[str, int, int]]:
    """(lowercase var, start, end) scopes of lambda parameters in ``body``:
    from the parameter declaration through the lambda expression (which
    ends at the first ``,`` or closing bracket at the arrow's level).  Used to
    keep macro-parameter substitution out of scopes where a lambda
    variable shadows the parameter."""
    spans: list[tuple[str, int, int]] = []
    n = len(body)
    depth = _brackets(body).depth
    for m in _ARROW.finditer(body):
        a = m.start()
        if not (mask[a] and (a + 1 < n and mask[a + 1])):
            continue
        # JSON `->` has a non-identifier-list left side; a lambda is
        # preceded by `ident` or `(ident, ident, ...)`
        j = a - 1
        while j >= 0 and body[j].isspace():
            j -= 1
        names: list[str] = []
        decl_start = None
        if j >= 0 and body[j] == ")":
            k = _match(body, j)
            inner = body[k + 1 : j] if k is not None else ""
            parts = [p.strip() for p in inner.split(",")]
            if k is not None and parts and all(
                re.fullmatch(r"[A-Za-z_]\w*", p) for p in parts
            ):
                names = [p.lower() for p in parts]
                decl_start = k
        elif j >= 0 and (body[j].isalnum() or body[j] == "_"):
            k = j
            while k >= 0 and (body[k].isalnum() or body[k] == "_"):
                k -= 1
            tok = body[k + 1 : j + 1]
            if re.fullmatch(r"[A-Za-z_]\w*", tok):
                names = [tok.lower()]
                decl_start = k + 1
        if not names or decl_start is None:
            continue
        # lambda expression extent: first `,` or closer at the arrow's level
        e = m.end()
        while e < n and not (
            mask[e]
            and (
                (body[e] == "," and depth[e] == depth[a])
                or (body[e] in ")]}" and depth[e] < depth[a])
            )
        ):
            e += 1
        for nm in names:
            spans.append((nm, decl_start, e))
    # list comprehensions: in ``[expr FOR v IN src IF pred]`` the variable
    # binds in expr and pred (not in src, which evaluates in the outer
    # scope) — exclude those spans too (r8 statement-fuzz seed 4223)
    for m in re.finditer(r"\bFOR\s+([A-Za-z_]\w*)\s+IN\b", body, re.IGNORECASE):
        if not all(mask[i] for i in range(m.start(), m.end())):
            continue
        nm = m.group(1).lower()
        o = _enclosing(body, m.start())
        close = _match(body, o) if o is not None and body[o] == "[" else None
        if close is None:
            continue
        # an IF at this bracket level starts the predicate
        if_pos = next(
            (
                c
                for c in range(m.end(), close)
                if mask[c]
                and depth[c] == depth[m.start()]
                and body[c : c + 2].upper() == "IF"
                and not (body[c + 2 : c + 3].isalnum() or body[c + 2 : c + 3] == "_")
                and not (body[c - 1].isalnum() or body[c - 1] == "_")
            ),
            None,
        )
        spans.append((nm, o + 1, m.start()))  # expr before FOR
        spans.append((nm, m.start(), m.end()))  # the declaration itself
        if if_pos is not None:
            spans.append((nm, if_pos, close))  # IF predicate
    return spans


def _substitute(mac: Macro, raw_args: list[str]) -> str:
    pos: list[str] = []
    named: dict[str, str] = {}
    for a in raw_args:
        if not a.strip() and len(raw_args) == 1:
            continue
        nm = _NAMED_CALL_ARG.match(a)
        if nm:
            named[nm.group(1).lower()] = nm.group(2).strip()
        elif named:
            raise ValueError(
                f"Macro {mac.name}: positional argument after named argument"
            )
        else:
            pos.append(a.strip())
    if len(pos) != len(mac.positional):
        raise ValueError(
            f"Macro function '{mac.signature}' requires "
            f"{len(mac.positional)} positional argument(s), "
            f"but {len(pos)} positional argument(s) were provided"
        )
    binds = {p.lower(): v for p, v in zip(mac.positional, pos)}
    for k, default in mac.defaults.items():
        binds[k] = named.pop(k, default)
    if named:
        raise ValueError(
            f"Macro {mac.name} does not have default parameter "
            + ", ".join(sorted(named))
        )
    body = mac.body
    bmask = _code_mask(body)
    shadows = _lambda_shadow_spans(body, bmask)
    repls: list[tuple[int, int, str]] = []
    for tok in _IDENT_TOKEN.finditer(body):
        key = tok.group(0).lower()
        if key not in binds:
            continue
        if not all(bmask[i] for i in range(tok.start(), tok.end())):
            continue
        # a lambda variable SHADOWS a same-named macro parameter inside
        # its body (DuckDB scoping; r8 statement-fuzz seed 796 — textual
        # substitution into `x -> greatest(x, 2)` produced `expr -> ...`)
        if any(s <= tok.start() < e for nm, s, e in shadows if nm == key):
            continue
        # not a field access (x.param) and not a call name (param(...))
        j = tok.start() - 1
        while j >= 0 and body[j].isspace():
            j -= 1
        if j >= 0 and body[j] == ".":
            continue
        k = tok.end()
        while k < len(body) and body[k].isspace():
            k += 1
        if k < len(body) and body[k] == "(":
            continue
        repls.append((tok.start(), tok.end(), f"({binds[key]})"))
    for s, e, new in reversed(repls):
        body = body[:s] + new + body[e:]
    return f"({body})"


def expand_macros(sql: str, macros: dict[str, Macro]) -> str:
    """Expand every registered macro call in ``sql``.  A call's expansion
    is DuckDB text, so it is expanded in turn; creation rejects direct
    recursion, and a cycle through ``CREATE OR REPLACE`` ends at the
    depth cap."""

    def expand(text: str, depth: int) -> str:
        if depth == _MAX_EXPANSIONS:
            raise ValueError("macro expansion did not terminate (depth cap hit)")
        return _rewrite_calls(
            text,
            {
                key: lambda args, mac=mac: expand(_substitute(mac, args), depth + 1)
                for key, mac in macros.items()
            },
        )

    return expand(sql, 0) if macros else sql
