"""Dialect shim: shared lexing, the call-site walker, statement-level
rewrites and bracket syntax (see dialect.py for the pass pipeline and
the full design docstring)."""

from __future__ import annotations

import contextvars
import functools
import re
from collections.abc import Callable, Mapping
from types import MappingProxyType
from typing import NamedTuple


# ── shared lexing ────────────────────────────────────────────────────────
#
# One lexer decides, for every pass, what is code and what is not: `_lex`
# cuts a text into spans of code, ``'…'`` strings, ``"…"`` and backtick
# identifiers, ``$tag$…$tag$`` strings and ``--`` / ``/* */`` comments.  The
# code mask, the comment stripper, the dollar-string and backslash passes,
# the identifier unquoting and the path-literal rewrite are views over its
# spans, and `_brackets` builds the one bracket table from them.  Both are
# memoized by text: the passes ask again for text they have not changed.

CODE, STRING, QUOTED, BACKTICK, DOLLAR, COMMENT = "code", "'", '"', "`", "$", "comment"

# Doubled delimiters escape inside all three quote kinds; a quote or block
# comment left open runs to the end of the text.  A dollar string needs
# its closing tag: an unclosed ``$tag$`` is code.
_TOKEN = re.compile(
    r"'(?:[^']+|'')*(?:'|\Z)"
    r'|"(?:[^"]+|"")*(?:"|\Z)'
    r"|`(?:[^`]+|``)*(?:`|\Z)"
    r"|\$(?P<tag>[A-Za-z_][A-Za-z_0-9]*|)\$.*?\$(?P=tag)\$"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)",
    re.DOTALL,
)
_TOKEN_KIND = {"'": STRING, '"': QUOTED, "`": BACKTICK, "$": DOLLAR, "-": COMMENT, "/": COMMENT}


@functools.lru_cache(maxsize=256)
def _lex(sql: str) -> tuple[tuple[str, int, int], ...]:
    """``(kind, start, end)`` spans covering ``sql`` in order.  A quoted
    span includes its delimiters; a ``--`` comment stops before its
    newline, which is code."""
    spans: list[tuple[str, int, int]] = []
    pos = 0
    for m in _TOKEN.finditer(sql):
        if m.start() > pos:
            spans.append((CODE, pos, m.start()))
        spans.append((_TOKEN_KIND[sql[m.start()]], m.start(), m.end()))
        pos = m.end()
    if pos < len(sql):
        spans.append((CODE, pos, len(sql)))
    return tuple(spans)


def _map_tokens(sql: str, kind: str, fn) -> str:
    """``sql`` with every span of ``kind`` replaced by ``fn(span text)``."""
    return "".join(
        fn(sql[s:e]) if k == kind else sql[s:e] for k, s, e in _lex(sql)
    )


def _code_mask(sql: str) -> list[bool]:
    """True for characters that are plain SQL code — outside strings,
    quoted identifiers and comments (their delimiters count as non-code).
    The caller gets its own copy, which it may mutate."""
    return list(_code_mask_of(sql))


@functools.lru_cache(maxsize=256)
def _code_mask_of(sql: str) -> tuple[bool, ...]:
    mask: list[bool] = []
    for kind, s, e in _lex(sql):
        mask += [kind == CODE] * (e - s)
    return tuple(mask)


class _Brackets(NamedTuple):
    depth: tuple[int, ...]  # open brackets before each position, and at len(sql)
    match: Mapping[int, int]  # opener -> closer and closer -> opener


_BRACKET_CHAR = re.compile(r"[()\[\]{}]")


@functools.lru_cache(maxsize=256)
def _brackets(sql: str) -> _Brackets:
    """The bracket table of ``sql`` over code ``()``, ``[]`` and ``{}``
    together.  A closer carries its opener's depth, so ``depth[i] == 0``
    is top level for every kind of position.  A closer pairs with the
    innermost open bracket whatever its kind; one with nothing open is
    unmatched and takes the depth below zero, as a plain counter would."""
    code = _code_mask_of(sql)
    depth: list[int] = []
    match: dict[int, int] = {}
    stack: list[int] = []
    d = pos = 0
    for m in _BRACKET_CHAR.finditer(sql):
        i = m.start()
        if not code[i]:
            continue
        depth.extend([d] * (i - pos))
        if sql[i] in "([{":
            depth.append(d)
            stack.append(i)
            d += 1
        else:
            d -= 1
            depth.append(d)
            if stack:
                j = stack.pop()
                match[i], match[j] = j, i
        pos = i + 1
    depth.extend([d] * (len(sql) - pos + 1))
    return _Brackets(tuple(depth), MappingProxyType(match))


def _match(sql: str, i: int) -> int | None:
    """The bracket paired with the one at ``i``, either way, or None."""
    return _brackets(sql).match.get(i)


def _enclosing(sql: str, pos: int) -> int | None:
    """The innermost open bracket around ``pos``, or None."""
    depth = _brackets(sql).depth
    code = _code_mask_of(sql)
    want = depth[pos] - 1
    for k in range(pos - 1, -1, -1):
        if depth[k] == want and code[k] and sql[k] in "([{":
            return k
    return None


def _top_positions(text: str, sep: str) -> list[int]:
    """Positions of code ``sep`` characters outside every bracket."""
    code = _code_mask_of(text)
    depth = _brackets(text).depth
    return [
        m.start()
        for m in re.finditer(re.escape(sep), text)
        if code[m.start()] and depth[m.start()] == 0
    ]


def _split_top(text: str, sep: str = ",") -> list[str]:
    """``text`` cut at each top-level code ``sep`` (empty pieces kept)."""
    parts, last = [], 0
    for i in _top_positions(text, sep):
        parts.append(text[last:i])
        last = i + 1
    parts.append(text[last:])
    return parts


def _top_colons(text: str) -> list[int]:
    """Top-level ``:`` positions that are not half of a ``::`` cast."""
    return [
        i
        for i in _top_positions(text, ":")
        if text[i + 1 : i + 2] != ":" and text[i - 1 : i] != ":"
    ]


def _split_call_args(sql: str, open_paren: int) -> tuple[list[str], int] | None:
    """Top-level comma-split of a call's arguments; returns (args, close_idx)."""
    close = _match(sql, open_paren)
    if close is None or close < open_paren:
        return None
    code = _code_mask_of(sql)
    depth = _brackets(sql).depth
    inner = depth[open_paren] + 1
    args, start = [], open_paren + 1
    i = sql.find(",", start, close)
    while i != -1:
        if code[i] and depth[i] == inner:
            args.append(sql[start:i])
            start = i + 1
        i = sql.find(",", i + 1, close)
    args.append(sql[start:close])
    return args, close


# ── the call-site walker ─────────────────────────────────────────────────
#
# Every pass that rewrites calls by name is a table for `_rewrite_calls`:
# lowercase function name -> handler.  A handler gets the call's
# arguments and returns the text that replaces the whole call, or None to
# leave the call as written.  The walker never walks a handler's output,
# so a handler whose emission needs another handler calls it directly.

_CALL_SITE = re.compile(r"(?<![\w$])([A-Za-z_]\w*)\s*\(")


class _Args(list):
    """A call's argument texts (split at top-level commas, not stripped),
    and where the call sits: ``sql[start:close + 1]`` is the call, its
    name spelled ``name``."""

    def __init__(self, args: list[str], sql: str, start: int, close: int, name: str):
        super().__init__(args)
        self.sql, self.start, self.close, self.name = sql, start, close, name

    @property
    def call(self) -> str:
        return self.sql[self.start : self.close + 1]

    @property
    def before(self) -> str:
        return self.sql[: self.start]


def _qualified(sql: str, start: int) -> bool:
    """The name at ``start`` follows a ``.`` (a field or method name)."""
    j = start - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    return j >= 0 and sql[j] == "."


def _rewrite_calls(
    sql: str, table: Mapping[str, Callable[[_Args], str | tuple[str, int] | None]]
) -> str:
    """One right-to-left pass over the unqualified code call sites of the
    names in ``table``.  Each call's arguments are split from the current
    text, so a call sees the calls inside it already rewritten.  A handler
    that also takes a tail after the call (an ``OVER`` clause) returns
    ``(text, end)``, which replaces ``sql[start:end]``."""
    code = _code_mask_of(sql)
    sites = [
        m
        for m in _CALL_SITE.finditer(sql)
        if m.group(1).lower() in table and code[m.start()] and not _qualified(sql, m.start())
    ]
    for m in reversed(sites):
        parsed = _split_call_args(sql, m.end() - 1)
        if parsed is None:
            continue
        args, close = parsed
        out = table[m.group(1).lower()](_Args(args, sql, m.start(), close, m.group(1)))
        if out is not None:
            out, end = out if isinstance(out, tuple) else (out, close + 1)
            sql = sql[: m.start()] + out + sql[end:]
    return sql


# ── the operator walker ──────────────────────────────────────────────────
#
# Every pass that rewrites an infix or postfix operator is a table for
# `_rewrite_operators`: operator -> handler.  One forward parse over the
# code tokens reads every expression by DuckDB's precedence, so each pass
# sees the same operands.  An operand is a literal, identifier, call,
# ``(…)`` group or subquery, or ``CASE … END``, with its unary sign, its
# ``[…]``, ``.field`` and ``::type`` postfixes and its ``OVER`` /
# ``FILTER`` / ``WITHIN GROUP`` tails, together with every neighbour that
# binds tighter than the operator at hand.  The walk is leftmost-first and
# innermost-first: a handler gets its operands already rewritten by the
# same table, and its output is never walked again.

# DuckDB 1.0.0's binary operators, loosest first (each order probed).
# ``->``, the lambda and JSON arrow, takes everything tighter on its right
# except a following ``->>``: ``j -> 'a' || 'y'`` reads key 'ay', but
# ``j -> 'a' ->> 'b'`` is ``(j -> 'a') ->> 'b'``.  Then GLOB / SIMILAR TO;
# the generic operators, one left-associative level (``'a' ~ 'a' || 'b'``
# is 'trueb', ``'ab' || 'c' GLOB 'ab*'`` is true); ``+ -`` (``'a' || 1 + 2``
# is 'a3'); the multiplicative operators; ``^ **``, left-associative
# (``2 ^ 3 ** 2`` is 64).  A unary sign binds tighter still (``-x ^ 2`` is
# 9 for x = 3), and the postfixes tightest.  Comparisons, LIKE, IS, IN,
# BETWEEN, AND, OR and NOT are looser than all of these: they end an
# operand.
_BINARY = {
    "->": 0,
    **dict.fromkeys(("glob", "not glob", "similar to", "not similar to"), 1),
    **dict.fromkeys(("||", "~", "!~", "^@", "->>", "&", "|", "<<", ">>"), 2),
    "+": 3,
    "-": 3,
    **dict.fromkeys(("*", "/", "%", "//", "div"), 4),
    "^": 5,
    "**": 5,
}

# Words that end an operand; the first group never names a call, even
# before ``(``.
_NOT_CALLS = frozenset(
    "select from where having qualify window union intersect except all "
    "distinct as on by using join and or not in is like ilike between when "
    "then else end over within values with lateral".split()
)
_NOT_OPERANDS = _NOT_CALLS | frozenset(
    "group order limit offset asc desc nulls partition preceding following "
    "unbounded escape for if cross inner outer full natural anti semi asof "
    "positional returning recursive similar glob collate tablesample "
    "repeatable into".split()
)


class _Tok(NamedTuple):
    kind: str  # "word", "quoted" (identifier), "lit" or "op"
    start: int
    end: int
    key: str  # a word lowercased, an operator as written


_OP_TOKEN = re.compile(
    r"(?P<lit>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\w*|\$\w+|\?)"
    r"|(?P<word>[^\W\d][\w$]*)"
    r"|(?P<op>->>|->|\|\||\^@|!?~~?\*?|\*\*|//|::|:=|=>|<=|>=|<>|!=|==|<<|>>|[^\s\w])"
)


@functools.lru_cache(maxsize=256)
def _tokens(sql: str) -> tuple[tuple[_Tok, ...], Mapping[int, int]]:
    """The tokens of ``sql`` (strings and quoted identifiers whole, comments
    dropped), and the token pairs: each matched opener to its closer and
    each ``CASE`` to its ``END``."""
    toks: list[_Tok] = []
    for kind, s, e in _lex(sql):
        if kind == CODE:
            for m in _OP_TOKEN.finditer(sql, s, e):
                word = m.lastgroup == "word"
                toks.append(_Tok(m.lastgroup, m.start(), m.end(), m.group().lower() if word else m.group()))
        elif kind != COMMENT:
            toks.append(_Tok("quoted" if kind in (QUOTED, BACKTICK) else "lit", s, e, ""))
    at = {t.start: i for i, t in enumerate(toks) if t.kind == "op"}
    match = _brackets(sql).match
    pairs: dict[int, int] = {}
    cases: list[list[int]] = [[]]
    for i, t in enumerate(toks):
        if t.key in ("(", "[", "{"):
            cases.append([])
            if match.get(t.start, -1) > t.start:
                pairs[i] = at[match[t.start]]
        elif t.key in (")", "]", "}"):
            if len(cases) > 1:
                cases.pop()
        elif i and toks[i - 1].key == ".":
            continue  # a field named case or end
        elif t.key == "case":
            cases[-1].append(i)
        elif t.key == "end" and cases[-1]:
            pairs[cases[-1].pop()] = i
    return tuple(toks), MappingProxyType(pairs)


class _Site(NamedTuple):
    """One operator occurrence, as its handler gets it: ``operands`` are the
    rewritten operand texts and ``ops`` the operators between them (one for
    a binary operator, all of them for a chain, the postfix itself for a
    postfix entry).  ``sql[start:end]`` is the occurrence in the walked
    text.  A postfix entry also gets ``name`` (the cast's type, the chained
    function's name) and ``args`` (the chained call's arguments)."""

    operands: list[str]
    ops: list[str]
    sql: str
    start: int
    end: int
    name: str = ""
    args: list[str] = []


class _Chain(NamedTuple):
    """A table entry that takes the whole same-level chain over ``ops``
    (its own operator among them) in one call, when its own operator is in
    the chain."""

    ops: frozenset
    fn: Callable[[_Site], str | None]


class _Piece(NamedTuple):
    start: int
    end: int
    text: str  # sql[start:end] rewritten
    op: str | None = None  # the loosest operator, None for an operand


class _OperatorWalk:
    def __init__(self, sql: str, table: Mapping):
        self.sql, self.table = sql, table
        self.toks, self.pairs = _tokens(sql)
        self.chains = {
            op: (key, entry)
            for key, entry in table.items()
            if isinstance(entry, _Chain)
            for op in entry.ops
        }

    def join(self, pieces: list[_Piece], op: str | None = None) -> _Piece:
        first, last = pieces[0], pieces[-1]
        text = [first.text]
        for a, b in zip(pieces, pieces[1:]):
            text += (self.sql[a.end : b.start], b.text)
        return _Piece(first.start, last.end, "".join(text), op)

    def replace(self, pieces: list[_Piece], out: str | None, op: str | None = None) -> _Piece:
        if out is None:
            return self.join(pieces, op)
        return _Piece(pieces[0].start, pieces[-1].end, out, op)

    def region(self, i: int, j: int, start: int, end: int) -> str:
        """``sql[start:end]`` rewritten, its tokens being ``toks[i:j]``: a
        run of expressions and the words and signs between them."""
        out, pos = [], start
        while i < j:
            k, piece = self.expr(i, j, 0)
            if piece is None:
                i += 1
                continue
            out += (self.sql[pos : piece.start], piece.text)
            pos, i = piece.end, k
        out.append(self.sql[pos:end])
        return "".join(out)

    def enclosed(self, i: int, e: int) -> _Piece:
        """Tokens ``i..e`` (a bracket pair, or CASE and its END) with what
        lies between them rewritten."""
        t, c = self.toks[i], self.toks[e]
        inner = self.region(i + 1, e, t.end, c.start)
        return _Piece(t.start, c.end, self.sql[t.start : t.end] + inner + self.sql[c.start : c.end])

    def binary(self, k: int, j: int, arrow: bool) -> tuple[str, int] | None:
        """The binary operator at token ``k`` and the token after it."""
        if k >= j:
            return None
        t = self.toks[k]
        if t.kind == "op":
            return (t.key, k + 1) if t.key in _BINARY and not (arrow and t.key == "->>") else None
        words = [u.key for u in self.toks[k : min(k + 3, j)]]
        for n in (1, 2, 3):
            key = " ".join(words[:n])
            if key in _BINARY and (n > 1 or key in ("glob", "div")):
                return key, k + n
        return None

    def expr(self, i: int, j: int, floor: int, arrow: bool = False) -> tuple[int, _Piece | None]:
        """The expression at token ``i`` whose operators bind at ``floor``
        or tighter (``arrow``: inside the right side of ``->``)."""
        i, left = self.operand(i, j)
        while left is not None:
            found = self.binary(i, j, arrow)
            if found is None or _BINARY[found[0]] < floor:
                break
            key, after = found
            level = _BINARY[key]
            arrow_right = arrow or key == "->"
            k, right = self.expr(after, j, level + 1, arrow_right)
            if right is None:
                break
            if key not in self.chains:
                fn = self.table.get(key)
                site = _Site([left.text, right.text], [key], self.sql, left.start, right.end)
                left, i = self.replace([left, right], fn(site) if fn else None, key), k
                continue
            own, entry = self.chains[key]
            pieces, ops = [left, right], [key]
            while (found := self.binary(k, j, arrow)) and found[0] in entry.ops:
                k2, more = self.expr(found[1], j, level + 1, arrow_right)
                if more is None:
                    break
                pieces.append(more)
                ops.append(found[0])
                k = k2
            site = _Site([p.text for p in pieces], ops, self.sql, left.start, pieces[-1].end)
            left, i = self.replace(pieces, entry.fn(site) if own in ops else None, key), k
        return i, left

    def operand(self, i: int, j: int) -> tuple[int, _Piece | None]:
        if i >= j:
            return i, None
        t = self.toks[i]
        if t.key in ("+", "-", "~"):
            k, inner = self.operand(i + 1, j)
            if inner is None:
                return i, None
            return k, _Piece(t.start, inner.end, self.sql[t.start : inner.start] + inner.text)
        k, piece = self.primary(i, j)
        return (i, None) if piece is None else self.postfix(k, j, piece)

    def pair(self, i: int, j: int) -> int | None:
        e = self.pairs.get(i)
        return e if e is not None and e < j else None

    def primary(self, i: int, j: int) -> tuple[int, _Piece | None]:
        t = self.toks[i]
        verbatim = _Piece(t.start, t.end, self.sql[t.start : t.end])
        if t.kind == "lit":
            return i + 1, verbatim
        if t.key in ("(", "[", "{", "case"):
            e = self.pair(i, j)
            return (i, None) if e is None else (e + 1, self.enclosed(i, e))
        if t.kind == "op":
            return i, None
        if i + 1 < j and self.toks[i + 1].key == "(" and t.key not in _NOT_CALLS:
            e = self.pair(i + 1, j)
            if e is not None:
                return e + 1, self.join([verbatim, self.enclosed(i + 1, e)])
        return (i, None) if t.key in _NOT_OPERANDS else (i + 1, verbatim)

    def postfix(self, k: int, j: int, piece: _Piece) -> tuple[int, _Piece]:
        toks, sql = self.toks, self.sql
        while k < j:
            key = toks[k].key
            called = sql[piece.end - 1] == ")"
            if key == "[" and (e := self.pair(k, j)) is not None:
                piece, k = self.join([piece, self.enclosed(k, e)]), e + 1
            elif key == "." and k + 1 < j and toks[k + 1].kind in ("word", "quoted"):
                name = toks[k + 1]
                e = self.pair(k + 2, j) if name.kind == "word" and k + 2 < j else None
                if e is None or toks[k + 2].key != "(":
                    piece = self.join([piece, _Piece(name.start, name.end, sql[name.start : name.end])])
                    k += 2
                    continue
                group = self.enclosed(k + 2, e)
                fn = self.table.get(".")
                site = _Site(
                    [piece.text], ["."], sql, piece.start, group.end,
                    sql[name.start : name.end], _split_top(group.text[1:-1]),
                )
                piece, k = self.replace([piece, group], fn(site) if fn else None), e + 1
            elif key == "::" and (e := self.type_end(k + 1, j)) is not None:
                end = toks[e - 1].end
                fn = self.table.get("::")
                site = _Site([piece.text], ["::"], sql, piece.start, end, sql[toks[k + 1].start : end])
                tail = _Piece(toks[k].start, end, sql[toks[k].start : end])
                piece, k = self.replace([piece, tail], fn(site) if fn else None), e
            elif called and key in ("over", "filter", "within"):
                g = k + 1
                if key == "within" and g < j and toks[g].key == "group":
                    g += 1
                e = self.pair(g, j) if g < j and toks[g].key == "(" else None
                if e is not None:
                    tail = self.enclosed(g, e)
                elif key == "over" and g < j and toks[g].kind == "word" and toks[g].key not in _NOT_OPERANDS:
                    e, tail = g, _Piece(toks[g].start, toks[g].end, sql[toks[g].start : toks[g].end])
                else:
                    break
                piece, k = self.join([piece, tail]), e + 1
            else:
                break
        return k, piece

    def type_end(self, k: int, j: int) -> int | None:
        """The token after the type name that starts at ``k``: a name, its
        ``(…)`` parameters, its ``<…>`` element types, its ``[]`` suffixes."""
        toks = self.toks
        if k >= j or toks[k].kind not in ("word", "quoted"):
            return None
        k += 1
        if k < j and toks[k].key == "(" and (e := self.pair(k, j)) is not None:
            k = e + 1
        if k < j and toks[k].key == "<" and toks[k - 1].key in ("array", "map", "struct"):
            depth = 0
            while k < j and (depth := depth + {"<": 1, ">": -1, ">>": -2}.get(toks[k].key, 0)) > 0:
                k += 1
            k += 1
        while k < j and toks[k].key == "[" and (e := self.pair(k, j)) is not None:
            k = e + 1
        return min(k, j)


def _in_code(pattern: re.Pattern, sql: str) -> bool:
    """Some match of ``pattern`` starts in code: the cheap test a pass
    makes before it walks."""
    code = _code_mask_of(sql)
    return any(code[m.start()] for m in pattern.finditer(sql))


def _rewrite_operators(sql: str, table: Mapping[str, Callable[[_Site], str | None] | _Chain]) -> str:
    """One walk over the operator sites of ``table``, keyed by operator
    (``"^"``, ``"not similar to"``, ``"div"``; ``"::"`` and ``"."`` for the
    cast and chained-call postfixes).  A handler returns the text that
    replaces the whole occurrence, or None to leave it as written."""
    walk = _OperatorWalk(sql, table)
    return walk.region(0, len(walk.toks), 0, len(sql))


def _root_operator(sql: str) -> str | None:
    """The loosest operator of ``sql`` when it is one expression, looking
    inside any parentheses around the whole of it; None for an operand."""
    walk = _OperatorWalk(sql, {})
    i, j = 0, len(walk.toks)
    while j - i > 2 and walk.toks[i].key == "(" and walk.pairs.get(i) == j - 1:
        i, j = i + 1, j - 1
    k, piece = walk.expr(i, j, 0)
    return piece.op if piece is not None and k == j else None


def strip_comments(sql: str) -> str:
    """Replace every SQL comment with a single space.

    Comments are semantically neutral in both DuckDB and Spark, but the
    ~30 regex rewrite passes tolerate only whitespace between tokens —
    the r8 mutation fuzzer showed a comment between ``^`` and its operand
    (or inside ``ORDER BY``, ``* EXCLUDE``, ``->>``, ``%``, ``//``, QUALIFY
    predicates, …) either mangles the rewrite into a parse error or, worse,
    silently skips it (``^`` left as Spark XOR).  Stripping once at the
    engine funnel fixes the entire class instead of hardening every pass."""
    if "--" not in sql and "/*" not in sql:
        return sql
    return _map_tokens(sql, COMMENT, lambda _: " ")


# Words whose bare spelling changes the parse — quoted identifiers with
# these contents must STAY quoted (Spark's ansi.doubleQuotedIdentifiers
# resolves them; they're the rare corner the operand-regex passes may
# miss, but unquoting them would be outright wrong).
_RESERVED_BARE = frozenset(
    """select from where group order by having union all distinct as on
    using join inner left right full cross natural and or not in is null
    true false case when then else end cast try_cast between like ilike
    similar exists limit offset window qualify over partition rows range
    filter lateral with values except intersect replace exclude unnest
    interval asc desc nulls first last sample tablesample pivot unpivot
    describe summarize copy insert update delete create drop table view
    macro to for if any some escape glob collate asof positional anti
    semi div mod xor struct map array row grouping sets cube rollup
    current_date current_timestamp current_time localtime localtimestamp
    """.split()
)


def _unquote_function_names(sql: str) -> str:
    """Normalize double-quoted identifiers whose content is a simple
    lowercase word (``"n_name"`` → ``n_name``, ``"list_filter"(...)`` →
    ``list_filter(...)``).

    DuckDB folds unquoted identifiers to lowercase, so the bare lowercase
    spelling resolves identically to the quoted one in BOTH engines —
    and bare text is what the ~30 operand-matching rewrite passes (//
    typeof dispatch, ``~`` regex operators, * REPLACE's ``AS <column>``,
    function renames/macros) are written against; r8 mutation fuzzing
    showed each of them failing on a quoted operand.  Identifiers that
    NEED their quotes (uppercase, spaces, reserved words) stay quoted and
    resolve via spark.sql.ansi.doubleQuotedIdentifiers."""
    if '"' not in sql:
        return sql

    def unquote(ident: str) -> str:
        # a quoted identifier that needs its quotes (uppercase, spaces,
        # "" escapes, reserved words) stays verbatim
        m = _LOWER_IDENT.fullmatch(ident)
        return m.group(1) if m and m.group(1) not in _RESERVED_BARE else ident

    return _map_tokens(sql, QUOTED, unquote)


_LOWER_IDENT = re.compile(r'"([a-z_][a-z0-9_]*)"')


def _keyword_matches(sql: str, mask: list[bool], pattern: str) -> list[re.Match]:
    """Regex matches lying entirely in code regions."""
    return [
        m
        for m in re.finditer(pattern, sql, re.IGNORECASE)
        if all(mask[i] for i in range(m.start(), m.end()))
    ]


# ── DuckDB dynamic INTERVAL (expr) UNIT ─────────────────────────────────

_DYN_INTERVAL = re.compile(r"\bINTERVAL\s*\(", re.IGNORECASE)
_DYN_INTERVAL_UNIT = re.compile(
    r"\s*(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|MILLISECOND|"
    r"MICROSECOND)S?\b",
    re.IGNORECASE,
)


def _rewrite_dynamic_interval(sql: str) -> str:
    """DuckDB's column-valued interval ``INTERVAL (expr) DAY`` →
    ``((expr) * INTERVAL '1' DAY)`` (Spark's INTERVAL quantity must be a
    literal; multiplication takes the dynamic path).  Fixed-literal
    ``INTERVAL 2 DAY`` needs no rewrite (valid in both engines)."""
    if "interval" not in sql.lower():
        return sql
    while True:
        mask = _code_mask(sql)
        hit = None
        for m in _DYN_INTERVAL.finditer(sql):
            if all(mask[i] for i in range(m.start(), m.end())):
                hit = m
                break
        if hit is None:
            return sql
        open_p = hit.end() - 1
        close = _match(sql, open_p)
        if close is None:
            return sql
        um = _DYN_INTERVAL_UNIT.match(sql, close + 1)
        if um is None:
            return sql
        expr = sql[open_p + 1 : close]
        unit = um.group(1).upper()
        # DuckDB TRUNCATES a fractional quantity to whole units for
        # YEAR..MINUTE (probed r9: INTERVAL (24.9) YEAR adds 24 years;
        # (-1.6) DAY subtracts 1 day; (2.5) HOUR adds 2h) but keeps
        # sub-second precision for SECOND and finer ((2.5) SECOND is
        # exact).  CAST(try_divide(..) AS BIGINT) is the truncating
        # shape the int-cast rounding pass exempts.
        if unit in ("SECOND", "MILLISECOND", "MICROSECOND"):
            qty = f"({expr})"
        else:
            qty = f"CAST(try_divide(({expr}), 1) AS BIGINT)"
        sql = (
            sql[: hit.start()]
            + f"(({qty}) * INTERVAL '1' {unit})"
            + sql[um.end() :]
        )


# ── SELECT * EXCLUDE → SELECT * EXCEPT ───────────────────────────────────

_IDENT = r'(?:`(?:[^`]|``)+`|"(?:[^"]|"")+"|[A-Za-z_][\w$]*)'


# ── named-window reference case (r8 mutation fuzz) ──────────────────────
#
# DuckDB resolves ``OVER w`` against ``WINDOW W AS (...)`` case-
# insensitively (unquoted identifiers fold); Spark matches the reference
# to the definition by EXACT text and raises MISSING_WINDOW_SPECIFICATION
# on a case mismatch.  Canonicalize every unquoted ``OVER <name>``
# reference to the defined spelling.

_WINDOW_DEF = re.compile(
    r"\bWINDOW\s+([A-Za-z_][\w$]*)\s+AS\s*\(", re.IGNORECASE
)
_WINDOW_DEF_CONT = re.compile(r"\s*,\s*([A-Za-z_][\w$]*)\s+AS\s*\(")
_OVER_REF = re.compile(r"\bOVER\s+([A-Za-z_][\w$]*)", re.IGNORECASE)


def _rewrite_named_window_case(sql: str) -> str:
    if "window" not in sql.lower() or "over" not in sql.lower():
        return sql
    mask = _code_mask(sql)
    depths = _brackets(sql).depth
    defined: dict[str, str] = {}
    for m in _keyword_matches(sql, mask, _WINDOW_DEF.pattern):
        defined[m.group(1).lower()] = m.group(1)
        # continuation definitions: WINDOW w1 AS (...), w2 AS (...)
        close = m.end() - 1  # the '('
        d0 = depths[close]  # a closer carries its opener's depth
        j = close + 1
        while j < len(sql):
            if mask[j] and sql[j] == ")" and depths[j] == d0:
                c = _WINDOW_DEF_CONT.match(sql, j + 1)
                if c is None:
                    break
                defined[c.group(1).lower()] = c.group(1)
                j = sql.find("(", c.end() - 1)
                if j < 0:
                    break
                j += 1
                continue
            j += 1
    if not defined:
        return sql
    out = sql
    for m in reversed(_keyword_matches(sql, mask, _OVER_REF.pattern)):
        name = m.group(1)
        want = defined.get(name.lower())
        if want is not None and want != name:
            out = out[: m.start(1)] + want + out[m.end(1) :]
    return out


def _rewrite_exclude(sql: str) -> str:
    mask = _code_mask(sql)
    out = sql
    # right-to-left so earlier offsets stay valid
    for m in reversed(_keyword_matches(sql, mask, r"\bEXCLUDE\b")):
        # must follow a star (possibly alias.*), else it's an identifier
        j = m.start() - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j < 0 or sql[j] != "*":
            continue
        k = m.end()
        while k < len(sql) and sql[k].isspace():
            k += 1
        if k < len(sql) and sql[k] == "(":
            out = out[: m.start()] + "EXCEPT" + out[m.end() :]
        else:
            # bare single column: EXCLUDE col → EXCEPT (col)
            im = re.match(_IDENT, sql[k:])
            if not im:
                continue
            col = im.group(0)
            out = (
                out[: m.start()]
                + f"EXCEPT ({col})"
                + out[k + im.end() :]
            )
    return out


# ── strftime → date_format ───────────────────────────────────────────────

_STRF_TO_JAVA = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "d": "dd",
    "H": "HH",
    "I": "hh",
    "M": "mm",
    "S": "ss",
    "f": "SSSSSS",
    "g": "SSS",
    "p": "a",
    "j": "DDD",
    "a": "EEE",
    "A": "EEEE",
    "b": "MMM",
    "B": "MMMM",
}


def strftime_format_to_java(fmt: str) -> str:
    """C-style strftime pattern → Spark datetime pattern.  Literal runs
    containing letters (or quotes) are single-quoted per Java rules."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        text = "".join(lit)
        if re.search(r"[A-Za-z']", text):
            out.append("'" + text.replace("'", "''") + "'")
        else:
            out.append(text)
        lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            code = fmt[i + 1] if i + 1 < len(fmt) else ""
            if code == "%":
                lit.append("%")
            elif code in _STRF_TO_JAVA:
                flush()
                out.append(_STRF_TO_JAVA[code])
            else:
                raise ValueError(
                    f"strftime code %{code or '<end>'} has no Spark "
                    f"date_format equivalent (supported: "
                    f"{', '.join('%' + c for c in sorted(_STRF_TO_JAVA))}, %%)"
                )
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


_SQ_LITERAL = re.compile(r"^\s*'((?:[^']|'')*)'\s*$")


def _java_format_literal(literal: str) -> str:
    """A quoted strftime pattern as a quoted Spark datetime pattern."""
    fmt = _SQ_LITERAL.match(literal).group(1).replace("''", "'")
    return "'" + strftime_format_to_java(fmt).replace("'", "''") + "'"


def _strftime_call(args: list[str]) -> str | None:
    # DuckDB: strftime(timestamp, format); tolerate the swapped order
    if len(args) != 2:
        return None
    fmt_idx = next((i for i, a in enumerate(args) if _SQ_LITERAL.match(a)), None)
    if fmt_idx is None:
        return None
    return f"date_format({args[1 - fmt_idx].strip()}, {_java_format_literal(args[fmt_idx])})"


def _strptime_call(args: list[str]) -> str | None:
    if len(args) != 2 or not _SQ_LITERAL.match(args[1]):
        return None
    return f"to_timestamp({args[0].strip()}, {_java_format_literal(args[1])})"


_DATETIME_FORMAT_CALLS = {"strftime": _strftime_call, "strptime": _strptime_call}


def _rewrite_datetime_formats(sql: str) -> str:
    """DuckDB ``strftime(ts, '%Y-%m-%d')`` → ``date_format(ts,
    'yyyy-MM-dd')`` and ``strptime(s, '%Y-%m-%d')`` → ``to_timestamp(s,
    'yyyy-MM-dd')``, through one %-code table (unknown codes raise, never
    silently mis-format)."""
    return _rewrite_calls(sql, _DATETIME_FORMAT_CALLS)


# ── QUALIFY ──────────────────────────────────────────────────────────────

_QUALIFY_TAIL = r"\b(?:ORDER\s+BY|LIMIT|OFFSET)\b"


def _qualify_parts(sql: str) -> tuple[str, str, str, str] | None:
    """Split ``<head> FROM <body> QUALIFY <pred> <tail>`` at top level.
    Returns (head, body, pred, tail) or None when no top-level QUALIFY."""
    mask = _code_mask(sql)
    depths = _brackets(sql).depth
    quals = [
        m
        for m in _keyword_matches(sql, mask, r"\bQUALIFY\b")
        if depths[m.start()] == 0
    ]
    if not quals:
        return None
    m = quals[-1]
    froms = [
        f
        for f in _keyword_matches(sql, mask, r"\bFROM\b")
        if depths[f.start()] == 0 and f.start() < m.start()
    ]
    if not froms:
        return None
    from_pos = froms[-1].start()
    # predicate runs to the first top-level ORDER BY / LIMIT / OFFSET
    tails = [
        t
        for t in _keyword_matches(sql, mask, _QUALIFY_TAIL)
        if depths[t.start()] == 0 and t.start() > m.end()
    ]
    pred_end = tails[0].start() if tails else len(sql)
    return (
        sql[:from_pos].rstrip(),
        sql[from_pos : m.start()].rstrip(),
        sql[m.end() : pred_end].strip(),
        sql[pred_end:].strip(),
    )


def _rewrite_qualify(sql: str) -> str:
    """Primary QUALIFY rewrite: evaluate the predicate one layer OUT —
    the original query becomes a subquery, so select-list aliases are
    real columns the predicate's window functions may reference (Spark
    forbids lateral alias references inside window expressions).  DuckDB
    additionally lets the predicate reference non-projected base columns;
    that variant needs the predicate INSIDE the original select list —
    ``_rewrite_qualify_inject`` — which ``dialect.analyze_dialect``
    retries on analysis failure."""
    parts = _qualify_parts(sql)
    if parts is None:
        return sql
    head, body, pred, tail = parts
    rewritten = (
        f"SELECT * EXCEPT (__qualify) FROM ("
        f"SELECT *, ({pred}) AS __qualify FROM ({head} {body}) __qualify_inner"
        f") __qualify_sub WHERE __qualify"
    )
    if tail:
        rewritten += " " + tail
    return rewritten


def _rewrite_qualify_inject(sql: str) -> str:
    """Fallback QUALIFY rewrite: append the predicate to the original
    select list (base columns visible to its windows; lateral aliases NOT
    usable inside window frames — the complementary coverage)."""
    parts = _qualify_parts(sql)
    if parts is None:
        return sql
    head, body, pred, tail = parts
    rewritten = (
        f"SELECT * EXCEPT (__qualify) FROM ("
        f"{head}, ({pred}) AS __qualify {body}) __qualify_sub WHERE __qualify"
    )
    if tail:
        rewritten += " " + tail
    return rewritten


# ── ASOF JOIN → equi-join against a LEAD/LAG validity window ────────────
#
# DuckDB: ``FROM a ASOF [LEFT] JOIN b ON a.k = b.k AND a.ts >= b.ts`` —
# each left row matches the single right row with the LARGEST b.ts not
# exceeding a.ts (backward; ``<=``/``<`` are the forward mirror).  Spark
# has no ASOF syntax.  The rewrite wraps the right side in a subquery
# that adds the NEXT (or PREVIOUS) timestamp per key via LEAD/LAG, so
# "the closest match" becomes a plain range predicate::
#
#   JOIN (SELECT *, LEAD(ts) OVER (PARTITION BY k ORDER BY ts)
#           AS __asof_nxt FROM b_tbl) b
#     ON a.k = b.k AND a.ts >= b.ts
#    AND (a.ts < b.__asof_nxt OR b.__asof_nxt IS NULL)
#
# — the same single-shuffle formulation as the catalog's DataFrame as-of
# operator.  STRICTLY SCOPED: one top-level ASOF JOIN per statement, a
# named/quoted right table (no subquery), every ON term either
# ``<expr> = <expr>`` or the ONE inequality, and the right side of each
# term a simple ``alias.col``.  Anything else raises AsofRewriteError
# naming what's unsupported — never a silent wrong-results rewrite.

_ASOF_HELPER = "__asof_nxt"


class AsofRewriteError(ValueError):
    """An ASOF JOIN form this shim deliberately does not rewrite."""


_ASOF_KW = re.compile(r"\bASOF\s+(LEFT\s+)?JOIN\b", re.IGNORECASE)
_ASOF_RTABLE = re.compile(
    rf"\s*('(?:[^']|'')+'|{_IDENT})(?:\s+AS)?(?:\s+({_IDENT}))?\s+ON\b",
    re.IGNORECASE,
)
_ASOF_CLAUSE_END = re.compile(
    r"\b(WHERE|GROUP|ORDER|LIMIT|OFFSET|HAVING|QUALIFY|WINDOW|UNION|INTERSECT|EXCEPT"
    r"|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|ASOF)\b",
    re.IGNORECASE,
)


def _split_top_and(text: str) -> list[str]:
    mask = _code_mask(text)
    depths = _brackets(text).depth
    parts, last = [], 0
    for m in re.finditer(r"\bAND\b", text, re.IGNORECASE):
        if all(mask[i] for i in range(m.start(), m.end())) and depths[m.start()] == 0:
            parts.append(text[last : m.start()])
            last = m.end()
    parts.append(text[last:])
    return parts


def _rewrite_asof_join(sql: str) -> str:
    mask = _code_mask(sql)
    depths = _brackets(sql).depth
    hits = [
        m for m in _keyword_matches(sql, mask, _ASOF_KW.pattern) if depths[m.start()] == 0
    ]
    if not hits:
        return sql
    if len(hits) > 1:
        raise AsofRewriteError("multiple ASOF JOINs in one statement are not supported")
    m = hits[0]
    is_left = bool(m.group(1))

    tm = _ASOF_RTABLE.match(sql, m.end())
    if not tm:
        raise AsofRewriteError(
            "ASOF JOIN right side must be a named table or quoted path "
            "(subqueries are not supported)"
        )
    rtable = tm.group(1)
    ralias = tm.group(2) or (rtable if not rtable.startswith("'") else None)
    if ralias is None:
        raise AsofRewriteError("a quoted-path ASOF JOIN right side needs an alias")

    on_start = tm.end()
    end_m = next(
        (
            e
            for e in _keyword_matches(sql[on_start:], _code_mask(sql[on_start:]), _ASOF_CLAUSE_END.pattern)
            if _brackets(sql[on_start:]).depth[e.start()] == 0
        ),
        None,
    )
    on_end = on_start + end_m.start() if end_m else len(sql)
    on_text = sql[on_start:on_end]

    qual = re.escape(ralias)
    rcol = re.compile(rf"^\s*{qual}\.({_IDENT})\s*$", re.IGNORECASE)
    eqs: list[tuple[str, str]] = []  # (other-side expr, b column)
    ineq = None  # (a_expr, op, b_col)
    for term in _split_top_and(on_text):
        tmask = _code_mask(term)
        ops = [
            o
            for o in re.finditer(r"(<=|>=|=|<|>)", term)
            if all(tmask[i] for i in range(o.start(), o.end()))
            and _brackets(term).depth[o.start()] == 0
        ]
        if len(ops) != 1:
            raise AsofRewriteError(f"unsupported ASOF ON term: {term.strip()!r}")
        o = ops[0]
        lhs, op, rhs = term[: o.start()], o.group(1), term[o.end() :]
        lm, rm = rcol.match(lhs), rcol.match(rhs)
        if op == "=":
            if rm and not lm:
                eqs.append((lhs.strip(), rm.group(1)))
            elif lm and not rm:
                eqs.append((rhs.strip(), lm.group(1)))
            else:
                raise AsofRewriteError(
                    f"ASOF equality needs exactly one side as {ralias}.<col>: {term.strip()!r}"
                )
        else:
            if ineq is not None:
                raise AsofRewriteError("ASOF JOIN supports exactly one inequality")
            if rm and not lm:
                ineq = (lhs.strip(), op, rm.group(1))
            elif lm and not rm:
                flip = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
                ineq = (rhs.strip(), flip[op], lm.group(1))
            else:
                raise AsofRewriteError(
                    f"ASOF inequality needs exactly one side as {ralias}.<col>: {term.strip()!r}"
                )
    if ineq is None:
        raise AsofRewriteError("ASOF JOIN requires one inequality in ON")
    a_expr, op, b_ts = ineq

    backward = op in (">=", ">")  # match the largest b_ts at-or-before a
    helper_fn = "LEAD" if backward else "LAG"
    part = (
        f"PARTITION BY {', '.join(c for _, c in eqs)} " if eqs else ""
    )
    sub = (
        f"(SELECT *, {helper_fn}({b_ts}) OVER ({part}ORDER BY {b_ts}) "
        f"AS {_ASOF_HELPER} FROM {rtable}) {ralias}"
    )
    bound = {
        ">=": f"(({a_expr}) < {ralias}.{_ASOF_HELPER} OR {ralias}.{_ASOF_HELPER} IS NULL)",
        ">": f"(({a_expr}) <= {ralias}.{_ASOF_HELPER} OR {ralias}.{_ASOF_HELPER} IS NULL)",
        "<=": f"(({a_expr}) > {ralias}.{_ASOF_HELPER} OR {ralias}.{_ASOF_HELPER} IS NULL)",
        "<": f"(({a_expr}) >= {ralias}.{_ASOF_HELPER} OR {ralias}.{_ASOF_HELPER} IS NULL)",
    }[op]
    on_terms = [f"{other} = {ralias}.{c}" for other, c in eqs]
    on_terms.append(f"({a_expr}) {op} {ralias}.{b_ts}")
    on_terms.append(bound)
    join_kw = "LEFT JOIN" if is_left else "JOIN"
    rewritten = (
        sql[: m.start()] + f"{join_kw} {sub} ON " + " AND ".join(on_terms) + sql[on_end:]
    )

    # The helper column leaks through star projections (bare ``*`` or
    # ``ralias.*``) — wrap once and drop it.  Explicit select lists never
    # see it, and a ``*`` used as multiplication is preceded by an operand.
    smask = _code_mask(rewritten)
    from_m = next(
        (
            f
            for f in _keyword_matches(rewritten, smask, r"\bFROM\b")
            if _brackets(rewritten).depth[f.start()] == 0
        ),
        None,
    )
    leaks = False
    if from_m:
        select_list = rewritten[: from_m.start()]
        for i, ch in enumerate(select_list):
            if ch != "*" or not smask[i]:
                continue
            prev = select_list[:i].rstrip()
            if prev.upper().endswith("SELECT") or prev.endswith(","):
                leaks = True  # bare *
            elif prev.endswith("."):
                q = re.search(rf"({_IDENT})\.$", prev)
                if q and q.group(1).lower() == ralias.lower():
                    leaks = True
    if leaks:
        rewritten = f"SELECT * EXCEPT ({_ASOF_HELPER}) FROM ({rewritten}) __asof_q"
    return rewritten




# ── DuckDB read_* table functions → path literals ───────────────────────
#
# ``FROM read_parquet('f.parquet')`` (and read_csv/read_json/…) is the
# other idiom DuckDB users reach for besides the bare path literal.  A
# single-string-argument call collapses to the quoted path itself, which
# the engine's B4 path-literal machinery then resolves (registered view
# or format.`abs path`).  Calls with extra arguments (options, globs as
# lists) are left untouched so Spark's error names the construct.

_READ_ARG = re.compile(r"\s*('(?:[^']|'')+')\s*")


def _read_call(args: list[str]) -> str | None:
    m = _READ_ARG.fullmatch(args[0]) if len(args) == 1 else None
    return m.group(1) if m else None  # options/globs: leave for Spark to name


_READ_CALLS = dict.fromkeys(
    (
        "read_parquet parquet_scan read_csv_auto read_csv read_json_auto"
        " read_json read_ndjson_auto read_ndjson"
    ).split(),
    _read_call,
)


def _rewrite_read_functions(sql: str) -> str:
    return _rewrite_calls(sql, _READ_CALLS)


# ── DuckDB DESCRIBE SELECT → Spark DESCRIBE QUERY ───────────────────────

_DESCRIBE_SELECT = re.compile(
    r"^(\s*DESCRIBE\s+)(?=(?:SELECT|WITH|VALUES)\b)", re.IGNORECASE
)
_DESCRIBE_FROM = re.compile(r"^(\s*DESCRIBE\s+)(?=FROM\b)", re.IGNORECASE)


def _rewrite_describe(sql: str) -> str:
    """DuckDB ``DESCRIBE SELECT …`` → Spark ``DESCRIBE QUERY SELECT …``
    (Spark needs the QUERY keyword for statement-describe; bare
    ``DESCRIBE t`` is shared syntax and passes through).  The FROM-first
    body form ``DESCRIBE FROM t`` reorders the body first."""
    m = _DESCRIBE_FROM.match(sql)
    if m:
        return m.group(1) + "QUERY " + _rewrite_from_first(sql[m.end() :])
    return _DESCRIBE_SELECT.sub(lambda g: g.group(1) + "QUERY ", sql, count=1)


# ── DuckDB PRAGMA statements ────────────────────────────────────────────
#
# The introspection pragmas map onto Spark statements; engine-tuning
# pragmas (threads, memory_limit, …) are DuckDB-process controls with no
# Spark meaning — a clear error beats silently pretending to apply them.

_PRAGMA = re.compile(r"^\s*PRAGMA\s+([A-Za-z_]\w*)\s*(.*?);?\s*$", re.IGNORECASE | re.DOTALL)


def _rewrite_pragma(sql: str) -> str:
    m = _PRAGMA.match(sql)
    if not m:
        return sql
    name, arg = m.group(1).lower(), m.group(2).strip()
    if name == "show_tables":
        return "SHOW TABLES"
    if name == "version":
        return "SELECT version() AS library_version"
    if name == "table_info":
        tgt = arg.strip("()").strip().strip("'\"")
        return f"DESCRIBE {tgt}"
    if name == "database_size":
        return "SHOW TABLES"  # closest introspection Spark offers
    raise ValueError(
        f"PRAGMA {name} is a DuckDB engine control with no Spark equivalent "
        "(supported here: show_tables, table_info('t'), version)"
    )


# DuckDB's CREATE VIEW lives in its single-session in-memory catalog, so
# it can reference the registered parquet views freely.  Spark forbids a
# PERSISTENT view over temp views (INVALID_TEMP_OBJ_REFERENCE) — and the
# workbench's registered tables ARE temp views — so the statement maps to
# a TEMPORARY view, which has exactly DuckDB's session lifetime here
# (same rationale as the transaction markers).  Plain CREATE VIEW keeps
# its duplicate-name error on both engines; TEMP/TEMPORARY/GLOBAL
# spellings pass through untouched.

_CREATE_VIEW = re.compile(
    r"^(\s*CREATE\s+)(OR\s+REPLACE\s+)?(VIEW\b)", re.IGNORECASE
)


def _rewrite_create_view(sql: str) -> str:
    m = _CREATE_VIEW.match(sql)
    if not m:
        return sql
    keep = m.group(2) or ""
    return f"{m.group(1)}{keep}TEMPORARY VIEW{sql[m.end():]}"


# ── DuckDB UNPIVOT statements ───────────────────────────────────────────
#
# ``UNPIVOT tbl ON a, b, c INTO NAME n VALUE v`` → Spark's relational
# form ``SELECT * FROM tbl UNPIVOT (v FOR n IN (a, b, c))``.  Column
# aliases (``jan AS january``) pass through — both dialects accept them
# in the IN list.  Only the statement form is rewritten (text begins
# with UNPIVOT); the SQL-standard subquery form is shared syntax.

_UNPIVOT_STMT = re.compile(
    rf"^\s*UNPIVOT\s+(?P<src>\((?:[^()]|\([^()]*\))*\)|'(?:[^']|'')+'|{_IDENT})"
    rf"\s+ON\s+(?P<cols>.+?)\s+INTO\s+NAME\s+(?P<name>{_IDENT})"
    rf"\s+VALUE\s+(?P<value>{_IDENT})(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _unpivot_label(entry: str) -> str:
    """DuckDB's UNPIVOT NAME column holds the CATALOG spelling of each
    source column, while Spark labels with the identifier text as
    written — ``ON C_ACCTBAL`` must still produce 'c_acctbal' (r8
    statement-fuzz seed 3400).  Bare identifiers get an explicit
    lowercase label (every source in this ecosystem stores lowercase
    columns); quoted ones keep their exact content; anything already
    aliased or non-trivial passes through."""
    e = entry.strip()
    if re.fullmatch(r"[A-Za-z_]\w*", e):
        return f"{e} AS `{e.lower()}`"
    q = re.fullmatch(r'"((?:[^"]|"")+)"', e)
    if q:
        inner = q.group(1).replace('""', '"')
        return f"{e} AS `{inner}`"
    return e


def _rewrite_unpivot(sql: str) -> str:
    m = _UNPIVOT_STMT.match(sql.strip().rstrip(";"))
    if not m:
        return sql
    src = m.group("src")
    tail = m.group("tail").strip()
    parts = _split_top(m.group("cols").strip())
    labeled = ", ".join(_unpivot_label(p) for p in parts)
    return (
        f"SELECT * FROM {src} UNPIVOT ({m.group('value')} "
        f"FOR {m.group('name')} IN ({labeled}))"
        + (f" {tail}" if tail else "")
    )


# ── DuckDB FROM-first statements ────────────────────────────────────────


def _rewrite_from_first(sql: str) -> str:
    """DuckDB allows ``FROM t`` (implicit SELECT *) and ``FROM t SELECT
    cols`` (FROM-first).  Spark wants SELECT first; reorder at top level.
    Only statements that BEGIN with FROM are touched.

    Set operations are handled per-branch: ``FROM t UNION SELECT 1``
    must become ``SELECT * FROM t UNION SELECT 1`` — naively taking the
    statement's first top-level SELECT would steal the set-op branch's
    SELECT and emit invalid SQL.  Cut at the first top-level
    UNION/INTERSECT/EXCEPT, reorder only the leading branch, and recurse
    into the remainder (whose branch may itself be FROM-first)."""
    if not re.match(r"^\s*FROM\b", sql, re.IGNORECASE):
        return sql
    body = sql.strip().rstrip(";")
    mask = _code_mask(body)
    setop = [
        m
        for m in _keyword_matches(
            body, mask, r"\b(?:UNION|INTERSECT|EXCEPT)\b"
        )
        if _brackets(body).depth[m.start()] == 0
    ]
    if setop:
        cut = setop[0].start()
        head = body[:cut].strip()
        rest = body[cut:].strip()
        kw = re.match(
            r"(?:UNION|INTERSECT|EXCEPT)(?:\s+(?:ALL|DISTINCT))?\s*",
            rest,
            re.IGNORECASE,
        )
        return (
            f"{_rewrite_from_first(head)} {rest[: kw.end()].strip()} "
            f"{_rewrite_from_first(rest[kw.end():])}"
        )
    sel = [
        m
        for m in _keyword_matches(body, mask, r"\bSELECT\b")
        if _brackets(body).depth[m.start()] == 0
    ]
    if not sel:
        return f"SELECT * {body}"
    m = sel[0]
    pre = body[: m.start()].strip()  # FROM <src> [WHERE ...]
    rest = body[m.end() :].strip()  # <select list> [GROUP BY/ORDER BY/...]
    rmask = _code_mask(rest)
    tail = [
        t
        for t in _keyword_matches(
            rest,
            rmask,
            r"\b(?:WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT)\b",
        )
        if _brackets(rest).depth[t.start()] == 0
    ]
    if tail:
        cut = tail[0].start()
        return f"SELECT {rest[:cut].strip()} {pre} {rest[cut:].strip()}"
    return f"SELECT {rest} {pre}"


# ── DISTINCT ON → ranked window ─────────────────────────────────────────

_DISTINCT_ON = re.compile(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _rewrite_distinct_on(sql: str) -> str:
    """Postgres/DuckDB ``SELECT DISTINCT ON (keys) list FROM ... [ORDER BY
    o]`` → one row per key group (the first under the ORDER BY; arbitrary
    but deterministic — the keys themselves — when no ORDER BY is given),
    expressed as a row_number window + filter.  Order expressions are
    projected as hidden ``__don_o<i>`` columns so the outer ORDER BY works
    even when they aren't in the select list, then dropped with
    ``* EXCEPT``."""
    m = _DISTINCT_ON.match(sql)
    if m is None:
        return sql
    body = sql.strip().rstrip(";")
    mask = _code_mask(body)
    parsed = _split_call_args(body, m.end() - 1)
    if parsed is None:
        return sql
    keys, close = parsed
    keys = [k.strip() for k in keys]

    def top_kw(pattern, start=0):
        for k in _keyword_matches(body, mask, pattern):
            if k.start() >= start and _brackets(body).depth[k.start()] == 0:
                return k
        return None

    fm = top_kw(r"\bFROM\b", close)
    if fm is None:
        return sql
    select_list = body[close + 1 : fm.start()].strip()
    ob = top_kw(r"\bORDER\s+BY\b", fm.end())
    lim = top_kw(r"\bLIMIT\b|\bOFFSET\b", fm.end())
    src_end = min(x.start() for x in (ob, lim) if x is not None) if (ob or lim) else len(body)
    src = body[fm.start() : src_end].strip()
    tail_limit = body[lim.start() :].strip() if lim is not None else ""

    if ob is not None:
        ob_end = lim.start() if lim is not None and lim.start() > ob.end() else len(body)
        items = [i.strip() for i in _split_top(body[ob.end() : ob_end]) if i.strip()]
    else:
        items = list(keys)

    dir_re = re.compile(
        r"\s+(ASC|DESC)?\s*(NULLS\s+(?:FIRST|LAST))?\s*$", re.IGNORECASE
    )
    hidden, win_items, outer_items = [], [], []
    for i, item in enumerate(items):
        dm = dir_re.search(item)
        expr = item[: dm.start()].strip() if dm and dm.group(0).strip() else item
        suffix = item[len(expr) :].strip()
        hidden.append(f"{expr} AS __don_o{i}")
        win_items.append(item)
        outer_items.append(f"__don_o{i} {suffix}".strip())

    inner = (
        f"SELECT {select_list}, {', '.join(hidden)}, "
        f"row_number() OVER (PARTITION BY {', '.join(keys)} "
        f"ORDER BY {', '.join(win_items)}) AS __don_rn {src}"
    )
    excl = ", ".join([f"__don_o{i}" for i in range(len(items))] + ["__don_rn"])
    out = f"SELECT * EXCEPT ({excl}) FROM ({inner}) __don WHERE __don_rn = 1"
    if ob is not None:
        out += f" ORDER BY {', '.join(outer_items)}"
    if tail_limit:
        out += f" {tail_limit}"
    return out


# ── DuckDB bracket syntax: [literals], [comprehensions], indexing ───────
#
# DuckDB:  [1, 2]            list literal        → array(1, 2)
#          [x*2 FOR x IN l]  comprehension       → transform(l, x -> x*2)
#          [... FOR x IN l IF p]                 → transform(filter(l, x -> p), ...)
#          l[i] / t.l[i]     1-based index       → try_element_at(l, i)
#          l[a:b]            1-based incl. slice → list_slice / slice(...)
# Spark's own bracket subscript is 0-based, so leaving an index untouched
# would be SILENTLY off by one — identifier-based indexes are always
# rewritten.  Bases that end in ')' (function results, parenthesized
# exprs) are extended back through the call; other bases are left alone.

_BRACKET_NONLITERAL_KEYWORDS = frozenset(
    # an identifier-looking token before '[' that actually starts a
    # literal position, not an indexable base
    "select where and or not then else when end in as on by all distinct "
    "union intersect except having limit offset case if between like "
    "ilike is null true false order group values using array".split()
)

# before a '(...)[i]' base, 'if'/'array' are genuine function names and
# belong to the base; true statement keywords never do
_BRACKET_NEVER_CALL_KEYWORDS = _BRACKET_NONLITERAL_KEYWORDS - {"if", "array"}

_IDX_CHAIN_END = re.compile(rf"({_IDENT}(?:\s*\.\s*{_IDENT})*)\s*$")


def _split_top_colon(text: str) -> list[str] | None:
    """Split on a single top-level ':' (slice form); None if not a slice."""
    cuts = _top_colons(text)
    if len(cuts) != 1:
        return None
    return [text[: cuts[0]], text[cuts[0] + 1 :]]


def _rewrite_comprehension(inner: str) -> str | None:
    mask = _code_mask(inner)
    depths = _brackets(inner).depth
    fors = [
        m
        for m in _keyword_matches(inner, mask, r"\bFOR\b")
        if depths[m.start()] == 0
    ]
    if len(fors) != 1:
        return None
    expr = inner[: fors[0].start()].strip()
    rest = inner[fors[0].end() :]
    rm = re.match(rf"\s*({_IDENT})\s+IN\b", rest, re.IGNORECASE)
    if not rm:
        return None
    var = rm.group(1)
    src = rest[rm.end() :]
    smask = _code_mask(src)
    sdepths = _brackets(src).depth
    ifs = [
        m
        for m in _keyword_matches(src, smask, r"\bIF\b")
        if sdepths[m.start()] == 0
    ]
    if ifs:
        cond = src[ifs[0].end() :].strip()
        src = src[: ifs[0].start()].strip()
        if re.fullmatch(r"\[\s*\]|array\s*\(\s*\)", src, re.IGNORECASE):
            return "array()"
        return f"transform(filter({src}, {var} -> {cond}), {var} -> {expr})"
    src = src.strip()
    # Comprehension over a LITERAL empty list: emit array() itself, not
    # transform(array(), x -> f(x)) — the lambda's result type (e.g.
    # abs → DOUBLE) would coerce a later list_concat to DOUBLE where
    # DuckDB keeps the other side's INTEGER type (fuzz r10 seed 60745).
    if re.fullmatch(r"\[\s*\]|array\s*\(\s*\)", src, re.IGNORECASE):
        return "array()"
    return f"transform({src}, {var} -> {expr})"


# The heads whose subscripts take DuckDB's string reading.  DuckDB
# subscripts are polymorphic (lists AND strings) but Spark's
# element_at/slice are array-only, so the primary text reads every
# subscript as a list, and ``dialect.analyze_dialect`` adds a base's head
# here when Spark types that base STRING.  The string reading follows
# DuckDB (probed: 'abc'[0] = '', 'abc'[-5] = '', 'abcdef'[-3:-1] = 'def',
# 'abcdef'[4:2] = '', bounds clamp — Spark substr alone matches none of
# the 0/clamp cases).  Per head, not all-or-nothing: one query can
# subscript a string column AND a list column (fuzz r9 seed 171).
_STRING_SUBSCRIPTS: contextvars.ContextVar[frozenset] = contextvars.ContextVar(
    "_STRING_SUBSCRIPTS", default=frozenset()
)
# When a set is installed here, the bracket pass adds every head it
# classifies to it.  A later pass can rewrite a base's head (a macro turns
# ``array_to_string(..)`` into ``CASE …``), so the failing text Spark
# quotes can name a head the bracket pass never saw; the retry loop then
# picks among these.
_SEEN_HEADS: contextvars.ContextVar[set | None] = contextvars.ContextVar(
    "_SEEN_HEADS", default=None
)


_STRING_LITERAL_BASE = re.compile(r"^\(*\s*'(?:[^']|'')*'\s*\)*$")


def _string_subscript_base(base: str) -> bool:
    """Does this subscript base take the string (substr) reading?  A
    (possibly parenthesized) string LITERAL base is statically known —
    it takes the string reading whatever the heads (fuzz r9 seed 7115:
    ``('Hello World')[1:2]`` next to ``ls[1]``).  Any other base takes it
    when its HEAD identifier (``_base_head``) is in _STRING_SUBSCRIPTS —
    fuzz r9 seed 4154 needed a string reading for a call base alongside
    an array reading for a column."""
    b = base.strip()
    if _STRING_LITERAL_BASE.match(b) or _root_operator(b) == "->>":
        # ``->>`` always yields VARCHAR
        return True
    # A paren group HEADED by a string literal — ``('BUILDING' ||
    # 'xy')[2:2]`` (fuzz v6 seed 96787) — is statically string too: a
    # leading VARCHAR operand keeps ``||`` chains VARCHAR in DuckDB
    # (even against a list, which it stringifies), and a head set has no
    # identifier to key such a base on, so it must classify statically
    # or never get the string reading.
    # The literal must be followed by a string-PRESERVING continuation
    # (``||``, a subscript, a closer, or end) though: ``('a' = 'b')[2]``
    # is BOOLEAN (DuckDB: binder error, no array_extract(BOOLEAN, ...)),
    # and that verdict is static whatever the heads — returning False
    # before the head check keeps a string reading from silently
    # succeeding on Spark via an implicit bool→string cast where DuckDB
    # errors (r12, ADVICE).  (Comments are stripped before any rewrite
    # pass, so ``\s*`` is mask-safe here.)
    m_lit = re.match(r"^[\s(]*'(?:[^']|'')*'\s*", b)
    if m_lit:
        return bool(re.match(r"^(?:\|\||[\[)]|$)", b[m_lit.end():]))
    if _ARRAYISH_BASE.match(b):
        return False
    head = _base_head(b)
    seen = _SEEN_HEADS.get()
    if seen is not None and head:
        seen.add(head)
    return head in _STRING_SUBSCRIPTS.get()


def _base_head(base: str) -> str | None:
    """A subscript base's head identifier, lowercased: ``us`` for ``us``,
    ``nullif`` for ``(nullif('abc', st.b))``, ``case`` for ``(CASE …)``."""
    m = re.match(r"\(*\s*([A-Za-z_][\w$.]*)", base.strip())
    return m.group(1).lower() if m else None


# A base that is textually a list literal / list-producing call keeps the
# array reading even when its head is a string head (fuzz r8 seed 72).
# Both DuckDB and already-rewritten Spark spellings appear here because
# nested bracket groups are walked (and rewritten) before their outer base
# is classified.
_ARRAYISH_BASE = re.compile(
    # names must RETURN a list — array_to_string/list_sum/list_position
    # etc. return scalars and their subscripts must take the string path
    # (fuzz r8 seeds 598/605)
    r"^\(*\s*(\["
    r"|array\s*\("
    r"|array_(distinct|intersect|union|except|remove|compact|repeat|sort"
    r"|slice|reverse|concat|cat|prepend|append|filter|transform)\s*\("
    r"|list_(value|pack|sort|reverse_sort|reverse|distinct|concat|cat"
    r"|slice|transform|filter|prepend|append|intersect|zip|select"
    r"|grade_up|resize|where)\s*\("
    r"|range\s*\(|sequence\s*\(|flatten\s*\(|string_split\s*\("
    r"|str_split\s*\(|string_to_array\s*\(|split\s*\("
    r"|regexp_split_to_array\s*\(|map_keys\s*\(|map_values\s*\("
    r"|collect_list\s*\(|collect_set\s*\(|transform\s*\(|filter\s*\("
    # DuckDB element_at/map_extract wrap the value in a one-element LIST
    # (intentional #19), so their subscripts take the array path
    r"|element_at\s*\(|map_extract\s*\("
    r"|slice\s*\(|sort_array\s*\(|generate_series\s*\()",
    re.IGNORECASE,
)


def _str_slice(base: str, a: str, b: str | None) -> str:
    lo = (
        f"(CASE WHEN ({a}) < 0 THEN greatest(length({base}) + ({a}) + 1, 1) "
        f"ELSE greatest(({a}), 1) END)"
    )
    if b is None:
        return f"substr(({base}), {lo})"
    hi = (
        f"(CASE WHEN ({b}) < 0 THEN length({base}) + ({b}) + 1 "
        f"ELSE least(({b}), length({base})) END)"
    )
    return f"substr(({base}), {lo}, greatest({hi} - {lo} + 1, 0))"


def _rewrite_brackets(sql: str) -> str:
    mask = _code_mask(sql)

    def emit_slice(base: str, inner: str) -> str:
        parts = _split_top_colon(inner)
        a = parts[0].strip() or "1"
        b = parts[1].strip()
        if _string_subscript_base(base):
            return _str_slice(base, a, b or None)
        if not b:
            return (
                f"slice({base}, {a}, "
                f"greatest(size({base}) - ({a}) + 1, 0))"
            )
        # literal bounds expand via the list_slice macro pass that follows
        return f"list_slice({base}, {a}, {b})"

    def walk(start: int, end: int) -> str:
        out: list[str] = []
        i = start
        while i < end:
            ch = sql[i]
            if ch != "[" or not mask[i]:
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
            stripped = prefix.rstrip()
            prev = stripped[-1] if stripped else ""
            im = _IDX_CHAIN_END.search(stripped)
            base = None
            if im and im.group(1).lower() not in _BRACKET_NONLITERAL_KEYWORDS:
                base = im.group(1)
                cut = im.start(1)
            elif prev == ")":
                # extend back over the balanced (...) and a call name
                k = _match(stripped, len(stripped) - 1)
                if k is not None:
                    nm = _IDX_CHAIN_END.search(stripped[:k])
                    if nm and nm.group(1).lower() not in _BRACKET_NEVER_CALL_KEYWORDS:
                        cut = nm.start(1)
                    else:
                        cut = k
                    base = stripped[cut:]
            elif prev == "'":
                # bare string-literal base: 'abcdef'[2:4] — DuckDB's
                # 1-based char slice/index on the literal itself (r9
                # seed 7115 family; the literal is statically a string,
                # so _string_subscript_base always string-reads it)
                lm = re.search(r"'(?:[^']|'')*'\s*\Z", stripped)
                if lm:
                    cut = lm.start()
                    base = stripped[cut:]
            if base is not None:
                out = [stripped[:cut]]
                if _split_top_colon(inner) is not None:
                    out.append(emit_slice(base, inner))
                elif _string_subscript_base(base):
                    out.append(
                        f"(CASE WHEN ({inner}) = 0 THEN '' "
                        f"ELSE substr(({base}), ({inner}), 1) END)"
                    )
                else:
                    out.append(f"try_element_at({base}, {inner})")
                continue
            comp = _rewrite_comprehension(inner)
            out.append(comp if comp is not None else f"array({inner})")
        return "".join(out)

    if "[" not in sql:
        return sql
    return walk(0, len(sql))


_ARRAY_TYPE_SUFFIX = re.compile(
    r"([A-Za-z_][\w]*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?|ARRAY<[^\[\]]*>)"
    r"\s*\[\s*\]"
)


def _rewrite_array_type_suffix(sql: str) -> str:
    """DuckDB's array-type syntax ``BIGINT[]`` / ``DECIMAL(10,2)[]`` (in
    CAST targets etc.) → Spark's ``ARRAY<T>``.  An EMPTY ``[]`` after a
    word is never a subscript, so the rewrite is unconditional; runs
    before the bracket pass, which would otherwise read the ``[`` as an
    indexing group (fuzz r9: ``CAST(NULL AS BIGINT[])`` became
    try_element_at type soup).  Fixpoint handles ``BIGINT[][]``."""
    if "[" not in sql:
        return sql
    while True:
        mask = _code_mask(sql)
        m = next(
            (
                c
                for c in _ARRAY_TYPE_SUFFIX.finditer(sql)
                if all(mask[i] for i in range(c.start(), c.end()))
                # a KEYWORD before [] is not a type: ``FOR x IN [] IF``
                # (empty comprehension source — fuzz r9 seed 8756)
                and c.group(1).lower() not in _BRACKET_NONLITERAL_KEYWORDS
            ),
            None,
        )
        if m is None:
            return sql
        sql = sql[: m.start()] + f"ARRAY<{m.group(1)}>" + sql[m.end() :]

# method-first: USING SAMPLE reservoir(100 ROWS) / bernoulli(10%);
# size-first:   USING SAMPLE 10% (system[, seed]);
# plain:        USING SAMPLE 10% / 100 ROWS / bare 100 (rows)
# Ordered alternation — method/size-first must win over the plain prefix.
_USING_SAMPLE = re.compile(
    r"\bUSING\s+SAMPLE\s+(?:"
    r"(?P<method>reservoir|bernoulli|system)\s*\(\s*(?P<mnum>\d+(?:\.\d+)?)\s*"
    r"(?P<munit>%|PERCENT\b|ROWS\b)?\s*\)"
    r"|(?P<snum>\d+(?:\.\d+)?)\s*(?P<sunit>%|PERCENT\b|ROWS\b)?\s*"
    r"\(\s*(?:reservoir|bernoulli|system)\s*(?:,\s*(?P<seed>\d+))?\s*\)"
    r"|(?P<num>\d+(?:\.\d+)?)\s*(?P<unit>%|PERCENT\b|ROWS\b)?"
    r")",
    re.IGNORECASE,
)


def _table_ref_before(sql: str, mask: list[bool], pos: int):
    """Span ``(start, end)`` of the table reference immediately before
    ``pos`` — a (dotted) identifier, a quoted literal/identifier, or a
    parenthesized subquery / table function — but only when the token
    before IT is ``FROM`` / ``JOIN`` / a comma (an intervening alias
    means the positional wrap would capture the wrong text → None)."""
    j = pos - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0:
        return None
    if mask[j] and sql[j] == ")":
        k = _match(sql, j)
        if k is None:
            return None
        # attached table-function name, e.g. range(10)
        k2 = k - 1
        while k2 >= 0 and (sql[k2].isalnum() or sql[k2] in "_$."):
            k2 -= 1
        start = k2 + 1
    elif not mask[j]:
        k = j
        while k >= 0 and not mask[k]:
            k -= 1
        start = k + 1
    elif sql[j].isalnum() or sql[j] in "_$":
        k = j
        while k >= 0 and (sql[k].isalnum() or sql[k] in "_$."):
            k -= 1
        start = k + 1
    else:
        return None
    p = start - 1
    while p >= 0 and sql[p].isspace():
        p -= 1
    if p < 0:
        return None
    if sql[p] == ",":
        return (start, j + 1)
    e = p + 1
    while p >= 0 and (sql[p].isalpha() or sql[p] == "_"):
        p -= 1
    if sql[p + 1 : e].upper() in ("FROM", "JOIN"):
        return (start, j + 1)
    return None


def _rewrite_using_sample(sql: str) -> str:
    """DuckDB ``USING SAMPLE`` → Spark.  PERCENT forms map to Spark
    ``TABLESAMPLE (p PERCENT)`` (both are per-row Bernoulli-style
    sampling).  ROWS-unit forms are RANDOM reservoir samples in DuckDB
    (probed: two runs of ``USING SAMPLE 5`` on 10k rows return different
    rows) while Spark's ``TABLESAMPLE (n ROWS)`` is a deterministic
    first-n prefix — a silent wrong answer (ADVICE r7).  ROWS forms are
    therefore wrapped as ``(SELECT * FROM <ref> ORDER BY rand([seed])
    LIMIT n)``, which Spark plans as TakeOrderedAndProject (top-k, no
    full sort).  When the preceding table reference can't be identified
    positionally (e.g. an intervening alias), the clause is left
    untranslated so Spark's parse error surfaces instead of silently
    changing sampling semantics.  A trailing DuckDB ``REPEATABLE (seed)``
    clause survives in place on PERCENT forms (Spark spells it
    identically); a seed inside the size-first form (``10% (system,
    377)``) becomes ``REPEATABLE (377)`` / ``rand(377)``."""
    mask = _code_mask(sql)
    repls: list[tuple[int, int, str]] = []
    for m in _USING_SAMPLE.finditer(sql):
        if not all(mask[m.start() : m.end()]):
            continue
        seed = None
        if m.group("method"):
            num = m.group("mnum")
            unit = (m.group("munit") or "").upper().rstrip()
            if not unit:
                unit = (
                    "%" if m.group("method").lower() in ("bernoulli", "system")
                    else "ROWS"
                )
            kind = "PERCENT" if unit in ("%", "PERCENT") else "ROWS"
        elif m.group("snum"):
            num = m.group("snum")
            unit = (m.group("sunit") or "").upper().rstrip()
            kind = "PERCENT" if unit in ("%", "PERCENT") else "ROWS"
            seed = m.group("seed")
        else:
            num = m.group("num")
            unit = (m.group("unit") or "").upper().rstrip()
            kind = "PERCENT" if unit in ("%", "PERCENT") else "ROWS"
        if kind == "PERCENT":
            rep = f"TABLESAMPLE ({num} PERCENT)"
            if seed:
                rep += f" REPEATABLE ({seed})"
            repls.append((m.start(), m.end(), rep))
            continue
        # ROWS: random in DuckDB — wrap the table ref in a rand() top-k.
        if "." in num:
            continue  # fractional ROWS — let the engine error
        ref = _table_ref_before(sql, mask, m.start())
        if ref is None:
            continue  # can't wrap safely — leave for Spark to reject
        rs, re_ = ref
        ref_text = sql[rs:re_]
        alias = ""
        if re.fullmatch(r"[A-Za-z_][\w$]*(\.[A-Za-z_][\w$]*)*", ref_text):
            alias = " AS " + ref_text.rsplit(".", 1)[-1]
        rnd = f"rand({seed})" if seed else "rand()"
        rep = (
            f"(SELECT * FROM {ref_text} ORDER BY {rnd} LIMIT {num}){alias}"
        )
        repls.append((rs, m.end(), rep))
    for s, e, new in reversed(repls):
        sql = sql[:s] + new + sql[e:]
    return sql




# ── generate_series/range shared bodies (used by macros AND the TVF pass) ──

_INTERVAL_ARG = re.compile(r"\bINTERVAL\b", re.IGNORECASE)


def _series_empty(a: str) -> str:
    # typed empty array: a 0-length slice of a 1-element sequence
    return f"slice(sequence(({a}), ({a})), 1, 0)"


def _series_body(fn: str, args: list[str]) -> str | None:
    if fn == "unnest":
        return f"({args[0]})" if len(args) == 1 else None
    err = (
        "raise_error('{} error: start is bigger than end, but increment "
        "is positive: cannot generate infinite series')".format(fn)
    )
    if fn == "range" and len(args) == 1:
        (n,) = args
        return (
            f"IF(({n}) > 0, sequence(0, ({n}) - 1), "
            f"IF(({n}) = 0, {_series_empty('0')}, {err}))"
        )
    if len(args) == 2:
        a, b = args
        if fn == "generate_series":
            return f"IF(({b}) >= ({a}), sequence(({a}), ({b})), {err})"
        return (
            f"IF(({b}) > ({a}), sequence(({a}), ({b}) - 1), "
            f"IF(({b}) = ({a}), {_series_empty(a)}, {err}))"
        )
    if len(args) == 3:
        a, b, s = args
        if fn == "generate_series":
            return f"sequence(({a}), ({b}), ({s}))"
        if _INTERVAL_ARG.search(s):
            # range is end-exclusive; timestamps step back one microsecond
            return f"sequence(({a}), ({b}) - INTERVAL '0.000001' SECOND, ({s}))"
        return (
            f"sequence(({a}), ({b}) - (CASE WHEN ({s}) < 0 THEN -1 ELSE 1 END), ({s}))"
        )
    return None


