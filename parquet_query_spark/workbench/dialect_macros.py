"""Dialect shim: DuckDB function renames (_FN_MAP) and expression
macros (_FN_MACROS), two handler tables for the call-site walker
(``dialect_core._rewrite_calls``; see dialect.py for the pass pipeline)."""

from __future__ import annotations

import re

from parquet_query_spark.workbench.dialect_core import (
    _brackets,
    _code_mask,
    _rewrite_calls,
    _series_body,
)


# ── DuckDB function names Spark spells differently ──────────────────────
#
# Conservative, unambiguous 1:1 renames only (same argument order and
# semantics).  Deliberately NOT mapped: ``len`` (DuckDB uses it for both
# strings and lists; Spark splits that into length/size and the right
# target depends on the argument type), ``epoch`` (fractional-seconds
# semantics differ), ``list_aggregate`` (higher-order shim required).

_FN_MAP = {
    "string_split": "split",
    "str_split": "split",
    "string_split_regex": "split",
    "list_append": "array_append",
    # (list_prepend is a MACRO — DuckDB takes (elem, list), Spark
    # array_prepend takes (list, elem); a plain rename swaps the args)
    "list_value": "array",
    "list": "collect_list",
    "regexp_matches": "rlike",
    "epoch_ms": "unix_millis",
    "epoch_us": "unix_micros",
    "list_transform": "transform",
    "list_filter": "filter",
    # round 6: remaining unambiguous 1:1 list_*/array_* renames (same
    # argument order).  round 7: DuckDB list_extract returns NULL on
    # out-of-bounds/zero index; Spark element_at THROWS under ANSI mode
    # (the session default on Spark 4) — try_element_at is the 1-based,
    # negative-from-end, NULL-on-out-of-bounds equivalent.
    "list_extract": "try_element_at",
    "array_extract": "try_element_at",
    "list_element": "try_element_at",
    "list_reverse": "reverse",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_has_any": "arrays_overlap",
    "array_has_any": "arrays_overlap",
    "list_pack": "array",
    # aggregates (string_agg/listagg/median are Spark-native already).
    # arg_min/arg_max are macros below: DuckDB skips rows whose ARGUMENT
    # is NULL, Spark min_by/max_by does not; the *_null variants map
    # straight through.
    "arg_min_null": "min_by",
    "arg_max_null": "max_by",
    "quantile_cont": "percentile",
    "str_split_regex": "split",
    # lists/strings
    "array_length": "size",
    "strlen": "octet_length",
    # round-7 parity sweep (tests/test_dialect.py::test_parity_sweep_*):
    # every entry pinned by an engine-vs-DuckDB differential
    "starts_with": "startswith",
    "ends_with": "endswith",
    "suffix": "endswith",
    "prefix": "startswith",
    "editdist3": "levenshtein",
    "iff": "if",
    "list_apply": "transform",
    "array_apply": "transform",
    "row": "struct",
    "strpos": "instr",
    "string_to_array": "split",
    "from_hex": "unhex",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "to_hex": "hex",
    "today": "current_date",
    "week": "weekofyear",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "array_indexof": "array_position",
    # wave-2 sweep
    "json_keys": "json_object_keys",
    "regexp_split_to_array": "split",
    "favg": "avg",
    "fsum": "sum",
    "kahan_sum": "sum",
    "sumkahan": "sum",
}


def _rename(new: str):
    """A handler that respells the called name and keeps the call's
    arguments as written."""
    return lambda args: new + args.call[len(args.name) :]


_FN_RENAMES = {old: _rename(new) for old, new in _FN_MAP.items()}


def _rewrite_function_names(sql: str) -> str:
    """Rename DuckDB-spelled function calls to their Spark equivalents.
    Qualified names (``schema.fn``) and quoted identifiers are left
    alone."""
    return _rewrite_calls(sql, _FN_RENAMES)


# ── DuckDB list/array macros with no 1:1 Spark rename ───────────────────
#
# These expand into Spark expressions (argument text is spliced verbatim,
# so arbitrary sub-expressions work; an argument referenced twice is
# re-evaluated, which is semantically safe for the deterministic
# expressions involved).  The vector-math trio mirrors DuckDB's
# list_cosine_similarity / list_inner_product / list_distance family —
# the idioms an embeddings user hits first — built on zip_with/aggregate
# so they stay JVM-side.

_D = "CAST(0 AS DOUBLE)"


def _vec_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"{_D}, (s, v) -> s + v)"
    )


def _vec_norm2(a: str) -> str:
    return f"aggregate({a}, {_D}, (s, v) -> s + CAST(v AS DOUBLE) * v)"


def _macro_cosine(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    a, b = (x.strip() for x in args)
    return (
        f"({_vec_dot(a, b)} / (sqrt({_vec_norm2(a)}) * sqrt({_vec_norm2(b)})))"
    )


def _macro_cosine_distance(args: list[str]) -> str | None:
    inner = _macro_cosine(args)
    return None if inner is None else f"(1 - {inner})"


def _macro_inner_product(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    a, b = (x.strip() for x in args)
    return _vec_dot(a, b)


def _macro_distance(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    a, b = (x.strip() for x in args)
    return (
        f"sqrt(aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"{_D}, (s, v) -> s + v))"
    )


def _macro_list_unique(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"size({_macro_list_distinct(args)})"


def _macro_list_has_all(args: list[str]) -> str | None:
    # list_has_all(l, sub): every element of sub present in l
    if len(args) != 2:
        return None
    l, sub = (x.strip() for x in args)
    return f"(size(array_except({sub}, {l})) = 0)"


_UINT = re.compile(r"^\s*(\d+)\s*$")

_NAMED_ARG = re.compile(r"^\s*([A-Za-z_][\w$]*)\s*:=\s*(.+)$", re.DOTALL)


def _macro_struct_pack(args: list[str]) -> str | None:
    # struct_pack(a := 1, b := x) → named_struct('a', 1, 'b', x)
    if not args:
        return None
    parts = []
    for a in args:
        m = _NAMED_ARG.match(a)
        if not m:
            return None
        parts.append(f"'{m.group(1)}', {m.group(2).strip()}")
    return "named_struct(" + ", ".join(parts) + ")"


def _macro_list_slice(args: list[str]) -> str | None:
    # DuckDB list_slice(l, begin, end): 1-based, INCLUSIVE end; Spark
    # slice(l, start, length).  Only rewritten for non-negative integer
    # literal bounds — DuckDB's negative-index/clamping rules diverge from
    # Spark's there, and a wrong answer is worse than Spark's own error.
    if len(args) != 3:
        return None
    ma, mb = _UINT.match(args[1]), _UINT.match(args[2])
    if not ma or not mb:
        return None
    a, b = int(ma.group(1)), int(mb.group(1))
    return f"slice({args[0].strip()}, {a}, {max(b - a + 1, 0)})"


def _list_nn(a: str) -> str:
    return f"filter(({a}), __x -> __x IS NOT NULL)"


def _list_sum_expr(a: str) -> str:
    # DOUBLE accumulator (an element-typed zero breaks on DECIMAL lists —
    # decimal addition widens the type per step and the lambda fails
    # analysis); display parity holds because the reference's JS
    # formatter prints 6.0 as 6 exactly like format_cell.  NULL elements
    # ignored (probed: list_sum([1, NULL, 2]) = 3); empty/NULL list →
    # NULL (probed).
    nn = _list_nn(a)
    return (
        f"IF(size({nn}) = 0, CAST(NULL AS DOUBLE), "
        f"aggregate({nn}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x))"
    )


def _macro_list_sum(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return _list_sum_expr(args[0].strip())


def _macro_list_avg(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    a = args[0].strip()
    return f"({_list_sum_expr(a)} / size({_list_nn(a)}))"


def _macro_list_aggregate(args: list[str]) -> str | None:
    # literal aggregate names only — DuckDB dispatches dynamically, but
    # the common calls are literals and a wrong answer beats nothing
    if len(args) != 2:
        return None
    a = args[0].strip()
    name = re.fullmatch(r"\s*'(\w+)'\s*", args[1])
    if not name:
        return None
    fn = name.group(1).lower()
    if fn == "sum":
        return _list_sum_expr(a)
    if fn in ("avg", "mean"):
        return _macro_list_avg([a])
    if fn == "min":
        return f"array_min({a})"
    if fn == "max":
        return f"array_max({a})"
    if fn == "count":
        return f"size({_list_nn(a)})"
    return None


def _macro_list_reduce(args: list[str]) -> str | None:
    # DuckDB seeds with the first element and folds the rest (errors on
    # empty input; here an empty list yields NULL instead — documented)
    if len(args) != 2:
        return None
    a, lam = args[0].strip(), args[1].strip()
    return (
        f"aggregate(slice(({a}), 2, greatest(size(({a})) - 1, 0)), "
        f"try_element_at(({a}), 1), {lam})"
    )


# ── round-7 parity-sweep macros (each behavior probed on both engines) ──

_DATE_UNITS = frozenset(
    "year quarter month week day hour minute second".split()
)


def _unit_literal(arg: str) -> str | None:
    m = re.fullmatch(r"\s*'(\w+)'\s*", arg)
    if m and m.group(1).lower().rstrip("s") in _DATE_UNITS:
        return m.group(1).lower().rstrip("s")
    return None


def _macro_sha256(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"sha2(({args[0].strip()}), 256)"


def _macro_to_base(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return f"conv(({args[0].strip()}), 10, ({args[1].strip()}))"


def _macro_log10_single(args: list[str]) -> str | None:
    # DuckDB log(x) = log10; Spark log(x) = ln — silent wrong answer.
    # Two-arg log(base, x) agrees and passes through.
    if len(args) != 1:
        return None
    return f"log10({args[0].strip()})"


def _macro_trim2(args: list[str]) -> str | None:
    # DuckDB trim(s, chars) ≡ Spark btrim(s, chars) (same order)
    if len(args) != 2:
        return None
    return f"btrim(({args[0].strip()}), ({args[1].strip()}))"


def _trim_side(side: str):
    # DuckDB ltrim/rtrim(s, chars): Spark's 2-arg spelling has the args
    # swapped; TRIM(LEADING/TRAILING x FROM s) names them
    def macro(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        return f"TRIM({side} ({args[1].strip()}) FROM ({args[0].strip()}))"

    return macro


def _macro_dayname(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"date_format(({args[0].strip()}), 'EEEE')"


def _macro_monthname(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"date_format(({args[0].strip()}), 'MMMM')"


def _macro_isodow(args: list[str]) -> str | None:
    # DuckDB isodow: Monday=1..Sunday=7; Spark weekday: Monday=0
    if len(args) != 1:
        return None
    return f"(weekday(({args[0].strip()})) + 1)"


def _macro_date_diff(args: list[str]) -> str | None:
    # DuckDB date_diff counts UNIT BOUNDARIES crossed (probed:
    # date_diff('month', Jan 31, Feb 1) = 1) — truncate both ends, then
    # full-unit count.  Two-arg datediff is Spark-native and passes.
    if len(args) != 3:
        return None
    unit = _unit_literal(args[0])
    if unit is None:
        return None
    a, b = args[1].strip(), args[2].strip()
    u = unit.upper()
    return (
        f"timestampdiff({u}, date_trunc('{u}', ({a})), "
        f"date_trunc('{u}', ({b})))"
    )


def _macro_date_sub3(args: list[str]) -> str | None:
    # DuckDB date_sub counts FULL units (probed: date_sub('month',
    # Jan 31, Feb 1) = 0) = plain timestampdiff.  Two-arg date_sub is
    # Spark-native.
    if len(args) != 3:
        return None
    unit = _unit_literal(args[0])
    if unit is None:
        return None
    return (
        f"timestampdiff({unit.upper()}, ({args[1].strip()}), "
        f"({args[2].strip()}))"
    )



def _macro_trunc1(args: list[str]) -> str | None:
    # DuckDB single-arg trunc = toward zero; Spark trunc is date-only
    if len(args) != 1:
        return None
    a = args[0].strip()
    return f"IF(({a}) >= 0, floor(({a})), ceil(({a})))"


def _macro_isfinite(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    a = f"CAST(({args[0].strip()}) AS DOUBLE)"
    return f"(NOT isnan({a}) AND abs({a}) <> CAST('Infinity' AS DOUBLE))"


def _macro_isinf(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    a = f"CAST(({args[0].strip()}) AS DOUBLE)"
    return f"(abs({a}) = CAST('Infinity' AS DOUBLE))"


def _macro_list_prepend(args: list[str]) -> str | None:
    # DuckDB (elem, list) → Spark array_prepend(list, elem)
    if len(args) != 2:
        return None
    return f"array_prepend(({args[1].strip()}), ({args[0].strip()}))"


_DEC_LITERAL = re.compile(r"^[+-]?\d+\.\d+$")


def _macro_least_greatest_double(name):
    """DuckDB types least/greatest with ANY decimal argument as DOUBLE
    (probed: typeof(least(2.5, 1.5)) = DOUBLE, all-int = BIGINT), while
    Spark keeps DECIMAL — downstream typeof dispatch (int-cast rounding,
    //) then diverges (fuzz r8 seed 6749: (least(2.5, 3))::INT is 2 via
    half-even DOUBLE in DuckDB, was 3 via half-away DECIMAL here).
    Casting each top-level decimal-LITERAL argument to DOUBLE makes
    Spark's common type DOUBLE whenever the literal is what made
    DuckDB's; decimal COLUMNS without a literal stay a documented
    residual (#3 class).  Returns None when no literal matches."""

    def macro(args: list[str]) -> str | None:
        if len(args) < 2 or not any(
            _DEC_LITERAL.match(a.strip()) for a in args
        ):
            return None
        out = [
            f"CAST({a.strip()} AS DOUBLE)"
            if _DEC_LITERAL.match(a.strip())
            else a.strip()
            for a in args
        ]
        return f"{name}({', '.join(out)})"

    return macro


_IGNORE_NULLS_TAIL = re.compile(
    r"^(.*?)\s+(IGNORE|RESPECT)\s+NULLS\s*$", re.IGNORECASE | re.DOTALL
)


def _macro_ignore_nulls_inside(name):
    """DuckDB writes ``first_value(x IGNORE NULLS)`` INSIDE the call;
    Spark puts the modifier after it: ``first_value(x) IGNORE NULLS``
    (probed both).  Strips the tail from the last argument and re-emits
    it post-call."""

    def macro(args: list[str]) -> str | None:
        if not args:
            return None
        m = _IGNORE_NULLS_TAIL.match(args[-1].strip())
        if m is None:
            return None
        new_args = [a.strip() for a in args[:-1]] + [m.group(1).strip()]
        return f"{name}({', '.join(new_args)}) {m.group(2).upper()} NULLS"

    return macro


def _macro_product(args: list[str]) -> str | None:
    """DuckDB ``product(x)`` (DOUBLE aggregate).  Spark has no product
    aggregate; composed from sign/zero bookkeeping + exp(sum(ln)) —
    within the comparator's 1e-9 tolerance of DuckDB's sequential
    multiply for non-extreme magnitudes.  Also strips a DuckDB in-call
    ``ORDER BY`` first (product is order-insensitive up to fp rounding;
    r8 shipped this as a SECOND ``"product"`` dict key which silently
    shadowed the expansion — r9 fix, pinned by the duplicate-key test)."""
    if len(args) != 1:
        return None
    stripped = _strip_order_arg(args[0])
    x = (args[0] if stripped is None else stripped).strip()
    return (
        f"(CASE WHEN count(({x})) = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN min(abs(({x}))) = 0 THEN 0.0d "
        f"ELSE (CASE WHEN pmod(sum(CASE WHEN ({x}) < 0 THEN 1 ELSE 0 END), 2) = 1 "
        f"THEN -1.0d ELSE 1.0d END) * exp(sum(ln(abs(CAST(({x}) AS DOUBLE))))) END)"
    )


def _one_arg(args):
    return args[0].strip() if len(args) == 1 else None


def _macro_century(args):
    a = _one_arg(args)
    # probed: century(2000-12-31) = 20, century(2001-01-01) = 21
    return None if a is None else f"CAST(ceil(year(({a})) / 100.0) AS BIGINT)"


def _macro_decade(args):
    a = _one_arg(args)
    return None if a is None else f"CAST(floor(year(({a})) / 10.0) AS BIGINT)"


def _macro_era(args):
    a = _one_arg(args)
    return None if a is None else f"(CASE WHEN year(({a})) > 0 THEN 1 ELSE 0 END)"


def _macro_yearweek(args):
    # probed: yearweek(1995-01-01) = 199452 (ISO year * 100 + ISO week)
    a = _one_arg(args)
    if a is None:
        return None
    return f"(extract(YEAROFWEEK FROM ({a})) * 100 + weekofyear(({a})))"


def _macro_julian(args):
    # probed: julian(1995-06-17) = 2449886.0, 12:30 adds 0.5208 —
    # i.e. unix days + 2440588 plus the time fraction
    a = _one_arg(args)
    if a is None:
        return None
    return (
        f"(CAST(unix_micros(CAST(({a}) AS TIMESTAMP)) AS DOUBLE) "
        f"/ 86400000000.0 + 2440588)"
    )


def _macro_to_interval(days_mult=None, slot=None):
    """DuckDB to_days/to_hours/… → Spark make_dt_interval, which the
    Python client renders as the same timedelta (probed: to_years(2) is
    720 days — DuckDB approximates years/months as 360/30 days when
    converting to timedelta)."""

    def macro(args):
        a = _one_arg(args)
        if a is None:
            return None
        if days_mult is not None:
            return f"make_dt_interval(({a}) * {days_mult})"
        z = ["0"] * slot + [f"({a})"]
        return f"make_dt_interval({', '.join(z)})"

    return macro


def _macro_jaccard(args):
    # probed: character-SET jaccard — jaccard('aab', 'ab') = 1.0
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    sa = _macro_list_distinct([f"split(({a}), '')"])
    sb = _macro_list_distinct([f"split(({b}), '')"])
    return (
        f"(CAST(size({_macro_list_intersect([sa, sb])}) AS DOUBLE) "
        f"/ size(array_union({sa}, {sb})))"
    )


def _macro_hamming(args):
    # positions that differ; DuckDB errors on unequal lengths — NULL here
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN length(({a})) = length(({b})) THEN "
        f"size(filter(zip_with(split(({a}), ''), split(({b}), ''), "
        f"(x, y) -> x <> y), v -> v)) ELSE NULL END)"
    )


def _macro_parse_path(args):
    # probed: parse_path('/a/b/c.txt') = ['/', 'a', 'b', 'c.txt'];
    # relative paths have no leading '/' element
    a = _one_arg(args)
    if a is None:
        return None
    rest = f"filter(split(({a}), '/'), x -> x <> '')"
    rooted = _macro_flatten([f"array(array('/'), {rest})"])
    return f"(CASE WHEN substr(({a}), 1, 1) = '/' THEN {rooted} ELSE {rest} END)"


def _macro_parse_dirname(args):
    # probed: FIRST path component ('/' for absolute, 'a' for 'a/b/c')
    if len(args) not in (1, 2):
        return None
    a = args[0].strip()
    return (
        f"(CASE WHEN substr(({a}), 1, 1) = '/' THEN '/' "
        f"ELSE try_element_at(filter(split(({a}), '/'), x -> x <> ''), 1) END)"
    )


def _macro_parse_filename(args):
    # probed: last component; optional trim_extension arg
    if len(args) not in (1, 2):
        return None
    a = args[0].strip()
    base = f"try_element_at(filter(split(({a}), '/'), x -> x <> ''), -1)"
    trim = args[1].strip().lower() if len(args) == 2 else "false"
    if trim in ("true", "1"):
        # 4-arg position form: exempt from the first-only rewrite
        return f"regexp_replace({base}, '\\\\.[^.]*$', '', 1)"
    if trim in ("false", "0"):
        return base
    return None


def _macro_date_add_interval(args):
    # DuckDB date_add(date, INTERVAL) returns a TIMESTAMP (probed);
    # Spark's 2-arg date_add is (date, int_days) — only the INTERVAL
    # form is rewritten
    if len(args) != 2:
        return None
    if not re.search(r"\bINTERVAL\b", args[1], re.IGNORECASE):
        return None
    return f"(CAST(({args[0].strip()}) AS TIMESTAMP) + ({args[1].strip()}))"


def _macro_struct_insert(args):
    """``struct_insert({'a': 1}, b := 2)`` extends a struct — textual
    splice when the base is a (brace-rewritten) named_struct literal;
    column bases would need the schema and are left to error."""
    if len(args) < 2:
        return None
    base = args[0].strip()
    if not re.fullmatch(r"named_struct\s*\(.*\)", base, re.IGNORECASE | re.DOTALL):
        return None
    inner = base[base.index("(") + 1 : -1].strip()
    parts = [inner] if inner else []
    for kw in args[1:]:
        m = re.fullmatch(r"\s*([A-Za-z_]\w*)\s*:=\s*(.+)\s*", kw, re.DOTALL)
        if m is None:
            return None
        parts.append(f"'{m.group(1)}', {m.group(2).strip()}")
    return f"named_struct({', '.join(parts)})"


def _macro_list_bool(fn_name):
    # list_bool_or/list_bool_and skip NULL elements; empty/all-NULL → NULL
    def macro(args):
        a = _one_arg(args)
        if a is None:
            return None
        agg = "array_max" if fn_name == "or" else "array_min"
        return f"{agg}(filter(({a}), x -> x IS NOT NULL))"

    return macro


def _macro_list_grade_up(args):
    # probed: list_grade_up([3,1,2]) = [2,3,1] — the sorting permutation;
    # struct sort orders by value then original index (stable ties)
    a = _one_arg(args)
    if a is None:
        return None
    return (
        f"transform(array_sort(zip_with(({a}), sequence(1, size(({a}))), "
        f"(v, i) -> named_struct('v', v, 'i', i))), s -> s.i)"
    )


def _macro_list_select(args):
    # elements at the given 1-based indexes, in index order
    if len(args) != 2:
        return None
    l, idx = args[0].strip(), args[1].strip()
    return f"transform(({idx}), __k -> try_element_at(({l}), __k))"


def _macro_list_where(args):
    # elements whose mask entry is true (NULL mask drops the element)
    if len(args) != 2:
        return None
    l, msk = args[0].strip(), args[1].strip()
    return (
        f"transform(filter(sequence(1, size(({l}))), "
        f"__k -> try_element_at(({msk}), __k)), "
        f"__k -> try_element_at(({l}), __k))"
    )


def _macro_list_sort(args: list[str]) -> str | None:
    """DuckDB ``list_sort`` places NULLs LAST in both directions (probed:
    ``list_sort([NULL, 2, -1, -1])`` → [-1, -1, 2, NULL]; 'DESC' →
    [2, NULL]); Spark ``sort_array`` ascending puts NULLs FIRST (fuzz r8
    seed 6698), while ``array_sort`` ascending and ``sort_array(_,
    false)`` descending both match.  Direction forms beyond a literal
    ASC/DESC are left untouched so Spark's error names them."""
    a = args[0].strip()
    if len(args) == 1:
        return f"array_sort(({a}))"
    if len(args) == 2:
        d = args[1].strip().strip("'").lower()
        if d == "desc":
            return f"sort_array(({a}), false)"
        if d == "asc":
            return f"array_sort(({a}))"
    return None


def _macro_array_sort_direction(args: list[str]) -> str | None:
    # Spark's own 1-arg array_sort already sorts NULLS LAST; only
    # DuckDB's 2-arg direction form needs translating.
    if len(args) == 2:
        return _macro_list_sort(args)
    return None


def _macro_list_reverse_sort(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"sort_array(({args[0].strip()}), false)"


def _macro_list_any_value(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"try_element_at({_list_nn(args[0].strip())}, 1)"


def _macro_list_count(args: list[str]) -> str | None:
    # probed: list_count([1, NULL, 2]) = 2 — non-NULL elements
    if len(args) != 1:
        return None
    return f"size({_list_nn(args[0].strip())})"


def _macro_scalar_series(fn: str):
    # scalar-position range()/generate_series() return a LIST in DuckDB;
    # FROM-position calls were already consumed by the series-TVF pass,
    # so anything left is scalar
    def macro(args: list[str]) -> str | None:
        return _series_body(fn, [a.strip() for a in args])

    return macro


# ── wave-2 sweep macros: aggregates, JSON, regex, structs ───────────────


def _macro_string_agg_ordered(args: list[str]) -> str | None:
    # DuckDB string_agg(x, sep ORDER BY k) — Spark spells the ordered
    # form listagg(x, sep) WITHIN GROUP (ORDER BY k); the plain 2-arg
    # string_agg is Spark-native and passes through (macro → None).
    # A DISTINCT prefix carries over (Spark listagg accepts it — probed
    # r8; parenthesizing '(DISTINCT x)' would break the parse).
    if len(args) != 2:
        return None
    m = re.search(r"\bORDER\s+BY\b", args[1], re.IGNORECASE)
    if not m:
        return None
    sep = args[1][: m.start()].strip()
    order = args[1][m.end() :].strip()
    val = args[0].strip()
    dm = re.match(r"DISTINCT\s+(.+)$", val, re.IGNORECASE | re.DOTALL)
    val = f"DISTINCT ({dm.group(1)})" if dm else f"({val})"
    return (
        f"listagg({val}, ({sep})) "
        f"WITHIN GROUP (ORDER BY {order})"
    )


def _strip_order_arg(arg: str) -> str | None:
    """If ``arg`` carries a top-level in-aggregate ``ORDER BY`` clause,
    return the argument with the clause removed; else None."""
    mask = _code_mask(arg)
    depths = _brackets(arg).depth
    for m in re.finditer(r"\bORDER\s+BY\b", arg, re.IGNORECASE):
        # only a TOP-LEVEL code ORDER BY is the in-aggregate clause —
        # one inside a string literal or a nested subquery is not
        if not all(mask[i] for i in range(m.start(), m.end())):
            continue
        if depths[m.start()] != 0:
            continue
        head = arg[: m.start()].strip()
        if head:
            return head
    return None


def _strip_agg_order(fn: str):
    """DuckDB permits ``ORDER BY`` inside ANY aggregate call and ignores
    it for order-insensitive aggregates (count/sum/min/max/...); Spark
    rejects the clause — strip it (r8 probe:
    ``count(DISTINCT s ORDER BY s)``)."""

    def macro(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        head = _strip_order_arg(args[0])
        return None if head is None else f"{fn}({head})"

    return macro


def _macro_avg_double(args: list[str]) -> str | None:
    """DuckDB ``avg`` ALWAYS returns DOUBLE (probed: typeof(avg(decimal))
    = DOUBLE) while Spark's decimal ``avg`` keeps decimal(p+4, s+4) —
    rounding the result at scale+4, a visible ~1e-5 divergence (fuzz seed
    1223).  Cast the ARGUMENT to DOUBLE so the whole accumulation runs in
    double like DuckDB's; an argument already cast to DOUBLE is left as
    written."""
    if len(args) != 1:
        return None
    a = args[0].strip()
    om = _AGG_ORDER_KEY.match(a)
    if om and om.group(1).strip():
        # in-aggregate ORDER BY is a no-op for avg (DuckDB ignores it)
        a = om.group(1).strip()
    distinct = a.upper().startswith("DISTINCT ")
    x = a[9:] if distinct else a
    up = x.strip().upper()
    if up.startswith("CAST(") and up.endswith("AS DOUBLE)"):
        return None
    return f"avg({'DISTINCT ' if distinct else ''}CAST({x} AS DOUBLE))"


def _macro_quantile_disc(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return (
        f"percentile_disc(({args[1].strip()})) "
        f"WITHIN GROUP (ORDER BY ({args[0].strip()}))"
    )


_OVER = re.compile(r"\s*OVER\b", re.IGNORECASE)


def _macro_skewness(args: list[str]) -> str | None:
    # DuckDB reports SAMPLE skewness; Spark the population g1.  The
    # correction g1·√(n(n−1))/(n−2) was verified numerically against
    # both engines (0.9794 → 1.6964 on {1,2,9,3}).  A call followed by
    # OVER keeps Spark's population reading (the correction needs
    # count() in the same aggregation context).
    if len(args) != 1 or _OVER.match(args.sql, args.close + 1):
        return None
    a = args[0].strip()
    return (
        f"(skewness(({a})) * sqrt(count(({a})) * (count(({a})) - 1.0)) "
        f"/ (count(({a})) - 2.0))"
    )


def _macro_kurtosis(args: list[str]) -> str | None:
    # DuckDB: sample excess kurtosis G2 = (n−1)/((n−2)(n−3)) ·
    # ((n+1)·g2 + 6) over Spark's population excess g2 (verified:
    # −0.7981 → 3.0144 on {1,2,9,3}).  OVER: as for skewness.
    if len(args) != 1 or _OVER.match(args.sql, args.close + 1):
        return None
    a = args[0].strip()
    n = f"count(({a}))"
    return (
        f"(({n} - 1.0) / (({n} - 2.0) * ({n} - 3.0)) "
        f"* (({n} + 1.0) * kurtosis(({a})) + 6.0))"
    )


def _macro_struct_extract(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    nm = re.fullmatch(r"\s*'(\w+)'\s*", args[1])
    if not nm:
        return None
    return f"(({args[0].strip()}).`{nm.group(1)}`)"


def _json_path_literal(arg: str) -> str | None:
    p = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", arg)
    if p is None:
        return None
    path = p.group(1)
    if not path.startswith("$") and re.fullmatch(r"\w+", path):
        path = "$." + path
    return path


def _macro_json_extract(args: list[str]) -> str | None:
    # → get_json_object.  Documented divergence: DuckDB json_extract
    # keeps JSON quoting on string values ('"x"'); get_json_object
    # unquotes — the ->>/json_extract_string reading, which is what
    # downstream string processing wants.
    if len(args) != 2:
        return None
    path = _json_path_literal(args[1])
    if path is not None:
        return f"get_json_object(({args[0].strip()}), '{path}')"
    return f"get_json_object(({args[0].strip()}), ({args[1].strip()}))"


def _macro_json_valid(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"(get_json_object(({args[0].strip()}), '$') IS NOT NULL)"


def _pattern_group_index(pat_literal: str, name: str) -> int | None:
    """1-based index of capturing group ``name`` in a literal pattern
    (both ``(?P<name>`` and ``(?<name>`` spellings)."""
    idx = 0
    i = 0
    n = len(pat_literal)
    while i < n:
        c = pat_literal[i]
        if c == "\\":
            i += 2
            continue
        if c == "(":
            nxt = pat_literal[i + 1 : i + 2]
            if nxt != "?":
                idx += 1
            else:
                m = re.match(r"\(\?P?<([A-Za-z_]\w*)>", pat_literal[i:])
                if m:
                    idx += 1
                    if m.group(1) == name:
                        return idx
        i += 1
    return None


def _java_named_groups(pat: str) -> str:
    # Java regex uses (?<name>...); DuckDB accepts Python's (?P<name>...)
    return pat.replace("(?P<", "(?<")


def _macro_regexp_extract2(args: list[str]) -> str | None:
    # DuckDB's 2-arg default is group 0 (whole match); Spark's is
    # group 1 — make group 0 explicit.  A 3rd-arg group NAME resolves to
    # its index in a literal pattern; a LIST of names returns a struct
    # of the named groups (probed: regexp_extract(s, p, ['a','b']) →
    # {'a': ..., 'b': ...}).
    if len(args) == 2:
        return (
            f"regexp_extract(({args[0].strip()}), ({args[1].strip()}), 0)"
        )
    if len(args) != 3:
        return None
    sarg, parg, g = args[0].strip(), args[1].strip(), args[2].strip()
    pl = re.fullmatch(r"'((?:[^']|'')*)'", parg)
    nm = re.fullmatch(r"'([A-Za-z_]\w*)'", g)
    if nm and pl:
        idx = _pattern_group_index(pl.group(1), nm.group(1))
        if idx is None:
            return None
        return (
            f"regexp_extract(({sarg}), '{_java_named_groups(pl.group(1))}', {idx})"
        )
    # the bracket pass has already turned ['a', 'b'] into array('a', 'b');
    # list names label the pattern's capture groups POSITIONALLY (probed:
    # group 1 → first name)
    lst = re.fullmatch(r"(?:\[[^\]]*\]|array\s*\([^)]*\))", g, re.IGNORECASE)
    if lst and pl:
        names = re.findall(r"'([A-Za-z_]\w*)'", g)
        if not names:
            return None
        jp = _java_named_groups(pl.group(1))
        parts = [
            f"'{name}', regexp_extract(({sarg}), '{jp}', {i})"
            for i, name in enumerate(names, start=1)
        ]
        return f"named_struct({', '.join(parts)})"
    return None


def _macro_regexp_matches_flags(args: list[str]) -> str | None:
    # 3-arg regexp_matches: inline literal flags into the pattern
    if len(args) != 3:
        return None
    fl = re.fullmatch(r"\s*'([a-z]*)'\s*", args[2])
    if not fl:
        return None
    # m/n/p (newline-sensitive) are the RE2/Java default — no-ops (r9 probe)
    flags = set(fl.group(1)) - {"c", "g", "m", "n", "p"}
    if not flags <= {"i", "s"}:
        return None
    p = _inline_regex_flags(args[1].strip(), flags)
    if p is None:
        return None
    return f"rlike(({args[0].strip()}), {p})"


def _macro_even(args):
    # probed: rounds AWAY from zero to the next even (2.5→4, -3→-4,
    # 2→2); always DOUBLE
    a = _one_arg(args)
    if a is None:
        return None
    return (
        f"(CASE WHEN ({a}) < 0 THEN -2.0d * ceil(abs(CAST(({a}) AS DOUBLE)) / 2.0) "
        f"ELSE 2.0d * ceil(CAST(({a}) AS DOUBLE) / 2.0) END)"
    )


def _macro_gcd(args):
    # Spark has no gcd: largest k in 1..min(|a|,|b|) dividing both via a
    # sequence scan — fine for the value ranges dialect queries use;
    # gcd(0, x) = |x| (probed)
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    # the lambda variable must be collision-proof: a plain ``k`` SHADOWS
    # any column k referenced inside the macro's own arguments (fuzz r9
    # seed 2686: lcm(CAST(k AS BIGINT), ...) silently computed with the
    # loop variable instead of the column)
    scan = (
        f"array_max(filter(sequence(1, greatest(least(abs(({a})), abs(({b}))), 1)), "
        f"__gcd_i -> abs(({a})) % __gcd_i = 0 AND abs(({b})) % __gcd_i = 0))"
    )
    return (
        f"(CASE WHEN ({a}) = 0 THEN abs(({b})) "
        f"WHEN ({b}) = 0 THEN abs(({a})) ELSE {scan} END)"
    )


def _macro_lcm(args):
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    g = _macro_gcd(args)
    # token-free division (no DIV/'/'): the divmod pass would otherwise
    # rewrite an emitted DIV into the DOUBLE-surfaced dispatch, where
    # DuckDB types lcm BIGINT; the division is exact by construction
    # NULL propagates BEFORE the zero rule (probed: lcm(0, NULL) is
    # NULL, not 0 — fuzz r8 seed 31308)
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN ({a}) = 0 OR ({b}) = 0 THEN 0 "
        f"ELSE CAST(try_divide(abs(({a}) * ({b})), {g}) AS BIGINT) END)"
    )


def _macro_chr_codepoint(args):
    """DuckDB chr(n) returns the Unicode CODEPOINT; Spark's chr/char is
    modulo-256 Latin-1 (probed r9: chr(769) is '\\x01' there vs the
    combining acute here).  Character.toString(int) via reflect is
    codepoint-exact for the full range."""
    a = _one_arg(args)
    if a is None:
        return None
    return (
        f"reflect('java.lang.Character', 'toString', CAST(({a}) AS INT))"
    )


def _macro_ord_unicode(args):
    """DuckDB ord/unicode: first codepoint, -1 for the EMPTY string
    (probed r9), NULL for NULL.  Spark's ascii('') is 0."""
    a = _one_arg(args)
    if a is None:
        return None
    return f"(CASE WHEN ({a}) = '' THEN -1 ELSE ascii(({a})) END)"


def _macro_list_zip(args):
    """DuckDB list_zip pads to the LONGEST input and treats a NULL list
    as all-NULL of the other's length (probed r9: list_zip(NULL,[1,2]) =
    [(NULL,1),(NULL,2)]; both NULL = []).  Spark's arrays_zip pads the
    same but NULL-propagates — coalesce each input to a typed empty."""
    if len(args) < 2:
        return None
    wrapped = ", ".join(f"coalesce(({a.strip()}), array())" for a in args)
    return f"arrays_zip({wrapped})"


def _macro_list_intersect(args):
    """DuckDB list_intersect semantics (probed r9): distinct elements,
    NULL elements DROPPED ([NULL,1] ∩ [1,NULL] = [1] — Spark's
    array_intersect matches NULLs), asymmetric NULL args (NULL ∩ x =
    NULL but x ∩ NULL = []).  Element ORDER is DuckDB-internal hash
    order (the same value set comes back [3,2] or [2,3] depending on
    the inputs) — unspecified on both engines, documented intentional
    difference #22; this emission keeps the second list's order."""
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    if re.fullmatch(r"NULL", a, re.IGNORECASE):
        # untyped literal NULL first arg: result is NULL (probed)
        return "CAST(NULL AS ARRAY<STRING>)"
    # coalesce types the untyped-literal corner on either side; the ELSE
    # branch only runs when a IS NOT NULL, where coalesce(a, b) ≡ a
    kept = (
        f"filter(coalesce(({b}), slice(coalesce(({a}), ({b})), 1, 0)), "
        f"__li_x -> array_contains(coalesce(({a}), ({b})), __li_x))"
    )
    return f"(CASE WHEN ({a}) IS NULL THEN NULL ELSE {_macro_list_distinct([kept])} END)"


def _macro_xor(args):
    if len(args) != 2:
        return None
    return f"(({args[0].strip()}) ^ ({args[1].strip()}))"


def _macro_signbit(args):
    # -0.0 renders with a leading '-' in Spark's string cast; NaN and
    # positives don't (probed DuckDB: signbit(-0.0) true, nan false)
    a = _one_arg(args)
    if a is None:
        return None
    return f"startswith(CAST(CAST(({a}) AS DOUBLE) AS STRING), '-')"


# Lanczos g=7 n=9 approximation of the gamma function — ~1e-13 relative,
# well inside the 1e-9 comparator tolerance.
_LANCZOS = [
    "0.99999999999980993", "676.5203681218851", "-1259.1392167224028",
    "771.32342877765313", "-176.61502916214059", "12.507343278686905",
    "-0.13857109526572012", "9.9843695780195716e-6", "1.5056327351493116e-7",
]


def _lanczos_ag(z: str) -> str:
    terms = [_LANCZOS[0]] + [
        f"{c} / ({z} + {i - 1})" for i, c in enumerate(_LANCZOS[1:], start=1)
    ]
    return "(" + " + ".join(terms) + ")"


def _lngamma_pos(z: str) -> str:
    # valid for z >= 0.5: lnGamma = .5 ln(2pi) + (z-.5) ln t - t + ln Ag,
    # t = z + 6.5
    t = f"(({z}) + 6.5)"
    return (
        f"(0.9189385332046727d + (({z}) - 0.5) * ln({t}) - {t} "
        f"+ ln({_lanczos_ag(f'({z})')}))"
    )


def _macro_lgamma(args):
    a = _one_arg(args)
    if a is None:
        return None
    z = f"CAST(({a}) AS DOUBLE)"
    refl = (
        f"(1.1447298858494002d - ln(abs(sin(3.141592653589793d * {z}))) "
        f"- {_lngamma_pos(f'(1.0d - {z})')})"
    )
    return (
        f"(CASE WHEN {z} >= 0.5 THEN {_lngamma_pos(z)} ELSE {refl} END)"
    )


def _macro_gamma(args):
    a = _one_arg(args)
    if a is None:
        return None
    z = f"CAST(({a}) AS DOUBLE)"
    pos = f"exp({_lngamma_pos(z)})"
    refl = (
        f"(3.141592653589793d / (sin(3.141592653589793d * {z}) "
        f"* exp({_lngamma_pos(f'(1.0d - {z})')})))"
    )
    # integer inputs: DuckDB's tgamma is exact ((n-1)!) while the
    # Lanczos exp path drifts in the last ulps — factorial fits BIGINT
    # through gamma(21) = 20!
    exact = f"CAST(factorial(CAST({z} AS INT) - 1) AS DOUBLE)"
    return (
        f"(CASE WHEN {z} = floor({z}) AND {z} >= 1.0d AND {z} <= 21.0d "
        f"THEN {exact} WHEN {z} >= 0.5 THEN {pos} ELSE {refl} END)"
    )


def _macro_arg_minmax(which: str):
    # DuckDB arg_min/arg_max SKIP rows whose ARGUMENT is NULL (probed:
    # arg_min(x, y) over {(1,5), (NULL,1)} is 1); Spark min_by/max_by
    # return the argument at the extremal key even when NULL.  The
    # FILTER form restores DuckDB's reading — and composes with windows
    # through the window-FILTER rewrite pass.
    def m(args):
        if len(args) != 2:
            return None
        a, v = args[0].strip(), args[1].strip()
        return f"({which}(({a}), ({v})) FILTER (WHERE ({a}) IS NOT NULL))"

    return m


def _macro_fdiv(args):
    # DuckDB fdiv = floor division, always DOUBLE, NULL on zero divisor
    if len(args) != 2:
        return None
    x, y = args[0].strip(), args[1].strip()
    return f"floor(try_divide(CAST(({x}) AS DOUBLE), ({y})))"


def _macro_fmod(args):
    # DuckDB fmod(x, y) = x - y*floor(x/y) (probed: fmod(-7.5, 2) = 0.5)
    if len(args) != 2:
        return None
    x, y = args[0].strip(), args[1].strip()
    return (
        f"(CAST(({x}) AS DOUBLE) - ({y}) * "
        f"floor(try_divide(CAST(({x}) AS DOUBLE), ({y}))))"
    )


def _macro_kahan_sum(args):
    # DuckDB kahan_sum returns DOUBLE (compensated); Spark double sum
    # is within the 1e-9 comparator everywhere the engine is used
    a = _one_arg(args)
    return None if a is None else f"sum(CAST(({a}) AS DOUBLE))"


def _macro_current_schema(args):
    return "'main'" if args in ([], [""]) or not any(a.strip() for a in args) else None


def _macro_current_database(args):
    return "'memory'" if not any(a.strip() for a in args) else None


def _macro_list_resize(args):
    # DuckDB list_resize(l, n[, fill]): truncate to n or right-pad with
    # fill (default NULL).  try_element_at(l, size+1) manufactures a
    # correctly-typed NULL without knowing the element type.
    if len(args) not in (2, 3):
        return None
    l, n = args[0].strip(), args[1].strip()
    fill = (
        args[2].strip()
        if len(args) == 3
        else f"try_element_at(({l}), CAST(size(({l})) + 1 AS INT))"
    )
    # flatten(array(..)) not concat(..): the skip-NULLs concat pass
    # would stringify the arrays (trap 31 / fixed bug #8)
    padded = _macro_flatten([f"array(({l}), array_repeat({fill}, ({n}) - size(({l}))))"])
    return (
        f"(CASE WHEN ({n}) <= size(({l})) "
        f"THEN slice(({l}), 1, greatest(({n}), 0)) "
        f"ELSE {padded} END)"
    )


def _format_bytes_scaled(v: str, k: int, unit: str, base: int = 1024) -> str:
    # one decimal, TRUNCATED toward zero (probed: 1945 → '1.8 KiB').
    # Token-free arithmetic: emitted ``div``/``/``/plain BIGINT casts
    # would be re-rewritten by the divmod / int-cast passes (trap 31);
    # CAST(try_divide(..) AS BIGINT) is the exempted truncating shape.
    t = (
        f"CAST(try_divide(CAST(({v}) AS DOUBLE) * 10.0d, "
        f"{float(base ** k)!r}d) AS BIGINT)"
    )
    ip = f"CAST(try_divide({t}, 10) AS BIGINT)"
    fr = f"try_mod(abs({t}), 10)"
    return (
        f"concat(CAST({ip} AS STRING), '.', "
        f"CAST({fr} AS STRING), ' {unit}')"
    )


def _macro_format_bytes(args):
    # DuckDB format_bytes: binary units, '1 byte' singular, one decimal
    # truncated, capped at PiB (probed: 2^60 → '1024.0 PiB')
    v = _one_arg(args)
    if v is None:
        return None
    ladder = []
    units = ["KiB", "MiB", "GiB", "TiB"]
    for i, unit in enumerate(units, start=1):
        ladder.append(
            f"WHEN abs(({v})) < {1024 ** (i + 1)} "
            f"THEN {_format_bytes_scaled(v, i, unit)}"
        )
    return (
        f"(CASE WHEN ({v}) IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN ({v}) = 1 THEN '1 byte' "
        f"WHEN abs(({v})) < 1024 THEN concat(CAST(({v}) AS STRING), ' bytes') "
        + " ".join(ladder)
        + f" ELSE {_format_bytes_scaled(v, 5, 'PiB')} END)"
    )


def _macro_format_decimal_bytes(args):
    # formatReadableDecimalSize: same scheme at base 1000 with kB..PB
    # (probed: 1990000 → '1.9 MB' — truncated, lowercase k)
    v = _one_arg(args)
    if v is None:
        return None
    ladder = []
    for i, unit in enumerate(["kB", "MB", "GB", "TB"], start=1):
        ladder.append(
            f"WHEN abs(({v})) < {1000 ** (i + 1)} "
            f"THEN {_format_bytes_scaled(v, i, unit, base=1000)}"
        )
    return (
        f"(CASE WHEN ({v}) IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN ({v}) = 1 THEN '1 byte' "
        f"WHEN abs(({v})) < 1000 THEN concat(CAST(({v}) AS STRING), ' bytes') "
        + " ".join(ladder)
        + f" ELSE {_format_bytes_scaled(v, 5, 'PB', base=1000)} END)"
    )


def _histogram_sql(x: str) -> str:
    """RLE fold over the sorted value list → DuckDB's key-ordered MAP.
    The accumulator's list fields are typed from the input itself
    (``slice(L, 1, 0)``) so no element-type spelling is needed; fold
    lambdas touch only the accumulator and element, keeping aggregates
    out of lambda bodies (Spark rejects those)."""
    L = f"array_sort({_collect_list(x)})"
    acc0 = (
        f"named_struct('ks', slice({L}, 1, 0), "
        f"'cs', CAST(array() AS ARRAY<BIGINT>), "
        f"'pv', try_element_at({L}, 1), 'ct', CAST(0 AS BIGINT))"
    )
    # flatten(array(..)), never concat(..): the skip-NULLs concat pass
    # would stringify the arrays (trap 31 / fixed bug #8)
    ks = _macro_flatten(["array(a.ks, array(a.pv))"])
    cs = _macro_flatten(["array(a.cs, array(a.ct))"])
    step = (
        "(a, e) -> CASE "
        "WHEN a.ct > 0 AND a.pv = e THEN "
        "named_struct('ks', a.ks, 'cs', a.cs, 'pv', a.pv, 'ct', a.ct + 1) "
        "WHEN a.ct > 0 THEN "
        f"named_struct('ks', {ks}, 'cs', {cs}, 'pv', e, 'ct', CAST(1 AS BIGINT)) "
        "ELSE named_struct('ks', a.ks, 'cs', a.cs, 'pv', e, "
        "'ct', CAST(1 AS BIGINT)) END"
    )
    fin = f"a -> map_from_arrays({ks}, {cs})"
    return (
        f"(CASE WHEN size({L}) = 0 THEN NULL "
        f"ELSE aggregate({L}, {acc0}, {step}, {fin}) END)"
    )


def _collect_list(x: str) -> str:
    """``collect_list((x))``, read as DuckDB's ``list``: an in-call
    ``ORDER BY`` sorts the list."""
    return _macro_array_agg_ordered([f"({x})"]) or f"collect_list(({x}))"


def _macro_histogram(args):
    a = _one_arg(args)
    return None if a is None else _histogram_sql(a)


def _macro_entropy(args):
    # Shannon entropy (log2) over value frequencies, NULLs ignored,
    # 0.0 when no non-NULL rows (probed)
    a = _one_arg(args)
    if a is None:
        return None
    hist = _histogram_sql(a)
    n = f"size({_collect_list(a)})"
    return (
        f"(CASE WHEN {n} = 0 THEN 0.0d ELSE "
        f"aggregate(map_values({hist}), CAST(0 AS DOUBLE), "
        f"(acc, c) -> acc + try_divide(CAST(c AS DOUBLE), {n}) "
        f"* log2(try_divide(CAST({n} AS DOUBLE), c))) END)"
    )


def _macro_epoch_ns(args):
    # DuckDB epoch_ns → BIGINT nanoseconds (probed); Spark has only
    # unix_micros — timestamps carry microsecond precision, so *1000
    # is exact
    a = _one_arg(args)
    return None if a is None else f"(unix_micros(({a})) * CAST(1000 AS BIGINT))"


def _macro_encode1(args):
    a = _one_arg(args)
    return None if a is None else f"encode(({a}), 'UTF-8')"


def _macro_decode1(args):
    a = _one_arg(args)
    return None if a is None else f"decode(({a}), 'UTF-8')"


def _macro_regexp_extract_all2(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return (
        f"regexp_extract_all(({args[0].strip()}), ({args[1].strip()}), 0)"
    )


def _conv_backrefs(rep: str) -> str:
    """DuckDB replacement backrefs are ``\\1``; Java/Spark's are ``$1``.
    At macro time the literal has already been backslash-doubled by the
    raw-string pass, so ``\\\\N`` becomes ``$N`` (literal reps only).
    A pre-existing ``$`` in the replacement is LITERAL in RE2 but a
    group ref (or error) for Java — escape it first."""
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", rep)
    if not m:
        return rep.strip()
    body = m.group(1).replace("$", "\\\\$")
    body = re.sub(r"\\\\(\d)", r"$\1", body)
    return f"'{body}'"


def _replace_first_emit(s: str, p: str, r: str) -> str:
    """DuckDB's UNFLAGGED regexp_replace replaces only the FIRST match
    (probed: ``regexp_replace('xaxa', 'a', 'B')`` → 'xBxa'); Spark
    always replaces all.  Splice around the first match:

    - the match POSITION comes from ``regexp_instr`` — r8 used
      ``locate(match_text, s)``, i.e. the first LITERAL occurrence of
      the matched text, which is provably the match position for
      context-free patterns but WRONG for position-dependent ones
      (``regexp_replace('banana','a$','X')`` gave 'bXnana' instead of
      DuckDB's 'bananX' — r9 ADVICE, fixed);
    - the replacement is REBUILT from the literal's segments with each
      ``\\N`` backref as ``regexp_extract(s, p, N)`` (first-match group
      N, exactly the groups of the match being spliced) instead of
      re-running an ``\\A(?:p)\\z``-anchored replace on the isolated
      match text — that re-match loses the match's context and fails
      for boundary/anchor patterns (``\\b[.]`` never re-matches '.').
      Spark's regexp_extract returns '' for a non-participating group,
      same as RE2's rewrite rules.  A non-literal replacement value is
      spliced as literal text (RE2 would honor ``\\N`` inside the VALUE;
      Java would not either — unsupported corner on both paths);
    - guarded with RLIKE so a no-match input passes through, and the
      zero-width first match splices correctly
      (``regexp_replace('xy','x*','_')`` → '_y' — fuzz r8 seed 27582,
      still pinned).

    DuckDB is RE2: lookarounds are invalid there (its regexp_replace
    silently returns the input on an invalid pattern — probed), so the
    position-dependent frontier this has to honor is anchors and ``\\b``
    only, which regexp_instr + group-extract handle exactly."""
    pos = f"regexp_instr(({s}), ({p}))"
    mt = f"regexp_extract(({s}), ({p}), 0)"
    lit = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", r)
    pieces: list[str] = []
    if lit:
        body, last = lit.group(1), 0
        for m in re.finditer(r"\\\\(\d)", body):
            if m.start() > last:
                pieces.append(f"'{body[last:m.start()]}'")
            pieces.append(f"regexp_extract(({s}), ({p}), {m.group(1)})")
            last = m.end()
        if last < len(body):
            pieces.append(f"'{body[last:]}'")
    else:
        pieces.append(f"({r})")
    rep = ", ".join(pieces) if pieces else "''"
    return (
        f"(CASE WHEN ({s}) RLIKE ({p}) THEN "
        f"concat_ws('', substr(({s}), 1, {pos} - 1), {rep}, "
        f"substr(({s}), {pos} + length({mt}))) "
        f"ELSE ({s}) END)"
    )


def _inline_regex_flags(p: str, flags: set) -> str | None:
    inline = "".join(sorted(flags))
    if not inline:
        return p
    pl = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", p)
    if not pl:
        return None
    return f"'(?{inline}){pl.group(1)}'"


def _macro_regexp_replace_flags(args: list[str]) -> str | None:
    # DuckDB: 3-arg replaces FIRST match only; 'g' flag = global; other
    # flags inline into a literal pattern.  Spark's native 4-arg
    # position form (numeric 4th arg) passes through untouched.
    if len(args) == 3:
        s, p, r = (a.strip() for a in args)
        return _replace_first_emit(s, p, r)
    if len(args) != 4:
        return None
    fl = re.fullmatch(r"\s*'([a-z]*)'\s*", args[3])
    if not fl:
        return None
    # 'c' = case-sensitive (the default); 'm'/'n'/'p' = newline-sensitive
    # matching, which for anchors and '.' IS the RE2/Java default (probed
    # r9: '^c' with 'm' does NOT match after a newline in DuckDB — it is
    # NOT Java's (?m) line-anchor mode, which r8 wrongly inlined)
    flags = set(fl.group(1)) - {"c", "m", "n", "p"}
    if not flags <= {"g", "i", "s"}:
        return None
    s, p, r = args[0].strip(), args[1].strip(), args[2].strip()
    p = _inline_regex_flags(p, flags - {"g"})
    if p is None:
        return None
    if "g" in flags:
        return f"regexp_replace(({s}), {p}, {_conv_backrefs(r)}, 1)"
    return _replace_first_emit(s, p, r)


def _macro_regexp_full_match(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    return (
        f"rlike(({args[0].strip()}), "
        f"concat('^(?:', ({args[1].strip()}), ')$'))"
    )


def _macro_regexp_escape(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    lit = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[0])
    if not lit:
        return None
    import re as _re

    escaped = _re.escape(lit.group(1).replace("''", "'"))
    return "'" + escaped.replace("\\", "\\\\").replace("'", "''") + "'"


# time_bucket / epoch (probed: buckets align to origin 2000-01-03
# 00:00:00 — a Monday, so week buckets start Mondays; floor semantics
# hold pre-origin; month buckets use calendar months from 2000-01-01;
# epoch() returns FRACTIONAL seconds)

_TB_ORIGIN_US = 946857600000000  # 2000-01-03 00:00:00 UTC in microseconds
_INTERVAL_LIT = re.compile(
    r"^\s*INTERVAL\s+(?:'(\d+)\s*(\w+?)s?'|(\d+)\s+(\w+?)S?)\s*$",
    re.IGNORECASE,
)
_UNIT_US = {
    "millisecond": 1000,
    "ms": 1000,
    "second": 1000000,
    "sec": 1000000,
    "minute": 60000000,
    "min": 60000000,
    "hour": 3600000000,
    "day": 86400000000,
    "week": 604800000000,
}


def _macro_time_bucket(args: list[str]) -> str | None:
    if len(args) != 2:
        return None
    m = _INTERVAL_LIT.match(args[0])
    if not m:
        return None
    n = int(m.group(1) or m.group(3))
    unit = (m.group(2) or m.group(4)).lower()
    ts = args[1].strip()
    if unit in ("month", "mon", "year", "yr"):
        k = n * (12 if unit in ("year", "yr") else 1)
        msince = f"((year(({ts})) - 2000) * 12 + month(({ts})) - 1)"
        return (
            f"add_months(TIMESTAMP '2000-01-01 00:00:00', "
            f"CAST(({msince} DIV {k}) * {k} - "
            f"(CASE WHEN {msince} < 0 AND pmod({msince}, {k}) != 0 "
            f"THEN {k} ELSE 0 END) AS INT))"
        )
    if unit not in _UNIT_US:
        return None
    width = n * _UNIT_US[unit]
    delta = f"(unix_micros(CAST(({ts}) AS TIMESTAMP)) - {_TB_ORIGIN_US})"
    return (
        f"timestamp_micros({delta} - pmod({delta}, {width}) "
        f"+ {_TB_ORIGIN_US})"
    )


def _macro_epoch(args: list[str]) -> str | None:
    # DuckDB epoch() keeps the fraction (probed: 1577836801.5) — the
    # playbook trap that bit round 5's oracles, now handled in the shim
    if len(args) != 1:
        return None
    return (
        f"(CAST(unix_micros(CAST(({args[0].strip()}) AS TIMESTAMP)) "
        f"AS DOUBLE) / 1000000)"
    )


_EPOCH_FROM = re.compile(r"^\s*EPOCH\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL)


def _macro_extract_epoch(args: list[str]) -> str | None:
    # only EXTRACT(EPOCH FROM x) — every other field is Spark-native
    if len(args) != 1:
        return None
    m = _EPOCH_FROM.match(args[0])
    if not m:
        return None
    return _macro_epoch([m.group(1)])


_AGG_ORDER_KEY = re.compile(
    r"^(.*?)\bORDER\s+BY\s+(.+?)\s*(DESC|ASC)?\s*(?:NULLS\s+(FIRST|LAST))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _macro_array_agg_ordered(args: list[str]) -> str | None:
    # DuckDB array_agg(x ORDER BY k [DESC]) — Spark collect_list has no
    # in-call ORDER BY; sort structs of (key, value) post-collect.
    # Single sort key; NULLS FIRST is unsupported (array_sort puts nulls
    # last, which matches DuckDB's in-aggregate default).
    if len(args) != 1:
        return None
    m = _AGG_ORDER_KEY.match(args[0])
    if not m or not m.group(1).strip():
        return None
    if (m.group(4) or "").upper() == "FIRST":
        return None
    val, key = m.group(1).strip(), m.group(2).strip()
    desc = (m.group(3) or "").upper() == "DESC"
    sorted_ = (
        f"array_sort(collect_list(named_struct('k', ({key}), 'v', ({val}))))"
    )
    if desc:
        sorted_ = f"reverse({sorted_})"
    return f"transform({sorted_}, __s -> __s.v)"


def _ordered_first_last(fn: str):
    # first(x ORDER BY k) / last(x ORDER BY k) → min_by/max_by
    def macro(args: list[str]) -> str | None:
        if len(args) != 1:
            return None
        m = _AGG_ORDER_KEY.match(args[0])
        if not m or not m.group(1).strip():
            return None
        val, key = m.group(1).strip(), m.group(2).strip()
        desc = (m.group(3) or "").upper() == "DESC"
        pick = {("first", False): "min_by", ("first", True): "max_by",
                ("last", False): "max_by", ("last", True): "min_by"}[(fn, desc)]
        return f"{pick}(({val}), ({key}))"

    return macro


def _macro_flatten(args: list[str]) -> str | None:
    # DuckDB's flatten DROPS NULL sub-lists (probed r10: flatten([NULL])
    # = [], flatten([[1], NULL]) = [1]); Spark returns NULL whenever any
    # element is NULL.  An argument already in the emitted shape is left
    # as is, so the rewrite of its own output is a no-op.
    if len(args) != 1:
        return None
    a = args[0].strip()
    if a.startswith("filter(") and "__fl" in a:
        return None
    return f"flatten(filter(({a}), __fl -> __fl IS NOT NULL))"


def _macro_map_ctor(args: list[str]) -> str | None:
    # DuckDB's function-form constructor MAP(keys_list, values_list)
    # (probed r10: map(['a','b'],[1,2]) = {a:1, b:2}); Spark's varargs
    # map() would instead build a single entry keyed by the whole list.
    # Brace literals (MAP {..}) emit map_from_arrays directly and never
    # reach this arity guard.
    if len(args) != 2:
        return None
    k, v = args[0].strip(), args[1].strip()
    return f"map_from_arrays(({k}), ({v}))"


def _macro_map_extract(args: list[str]) -> str | None:
    # DuckDB map_extract returns a LIST: [v] on hit, [] on miss
    if len(args) != 2:
        return None
    m, k = args[0].strip(), args[1].strip()
    return (
        f"filter(array(try_element_at(({m}), ({k}))), "
        f"__x -> __x IS NOT NULL)"
    )


_FORMAT_BRACES = re.compile(r"\{\}")


def _macro_format(args: list[str]) -> str | None:
    # DuckDB fmt-style '{}' placeholders → format_string '%s'; only the
    # plain positional form (no {0} / {name} / % in the literal)
    if len(args) < 1:
        return None
    lit = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", args[0])
    if not lit or "%" in lit.group(1) or re.search(r"\{[^}]", lit.group(1)):
        return None
    fmt = _FORMAT_BRACES.sub("%s", lit.group(1))
    rest = "".join(f", ({a.strip()})" for a in args[1:])
    return f"format_string('{fmt}'{rest})"


def _macro_array_to_string(args) -> str | None:
    """DuckDB ``array_to_string(l, sep)`` skips NULL elements but returns
    NULL — not '' — when the list is NULL, empty, or all-NULL (probed:
    ``array_to_string([], ',')`` and ``array_to_string([NULL], ',')`` are
    both NULL; fuzz r8 seeds 89/104/111).  Spark ``array_join`` returns
    '' for those, so the emptiness guard wraps it."""
    if len(args) != 2:
        return None
    l, sep = args[0].strip(), args[1].strip()
    return (
        f"(CASE WHEN size(filter(({l}), x -> x IS NOT NULL)) > 0 "
        f"THEN array_join(({l}), ({sep})) ELSE NULL END)"
    )


def _macro_list_distinct(args) -> str | None:
    """DuckDB ``list_distinct`` DROPS NULL elements (probed:
    ``list_distinct([9, 2, NULL])`` → [2, 9]); Spark ``array_distinct``
    keeps one NULL (fuzz r8 seed 1045).  ``array_union(f, f)`` dedups
    the NULL-free list.  A literal NULL argument fails filter()
    analysis, so it short-circuits."""
    if len(args) != 1:
        return None
    l = args[0].strip()
    if l.upper() == "NULL":
        return "NULL"
    f = f"filter(({l}), x -> x IS NOT NULL)"
    return f"array_union({f}, {f})"


def _macro_list_contains(args) -> str | None:
    """DuckDB ``list_contains`` is NULL only for a NULL list or NULL
    needle; a not-found probe returns false even when the list holds NULL
    elements (probed: ``list_contains([0, NULL], 99)`` → false).  Spark
    ``array_contains`` returns NULL there (SQL three-valued membership;
    fuzz r8 seed 190), so the not-found case is coalesced to false."""
    if len(args) != 2:
        return None
    l, x = args[0].strip(), args[1].strip()
    if l.upper() == "NULL" or x.upper() == "NULL":
        # a literal NULL argument fails array_contains analysis
        # (NULL_TYPE) even inside a dead CASE branch
        return "CAST(NULL AS BOOLEAN)"
    return (
        f"(CASE WHEN ({l}) IS NULL OR ({x}) IS NULL THEN NULL "
        f"ELSE coalesce(array_contains(({l}), ({x})), false) END)"
    )


def _macro_list_concat(args) -> str | None:
    """DuckDB ``list_concat(a, b)`` (strictly 2-arg, probed) SKIPS a NULL
    side (``list_concat([1], NULL)`` → [1]; NULL, NULL → NULL) and keeps
    the LIST type — it must NOT fold into the string ``concat`` rename,
    whose skip-NULL rewrite (``concat_ws``) silently stringifies arrays
    (fuzz r8).  ``flatten(array(a, b))`` is the token-free Spark array
    concat (trap 31: the output can't contain ``concat`` or the
    skip-NULLs pass re-captures it)."""
    if len(args) != 2:
        return None
    a, b = args[0].strip(), args[1].strip()
    if a.upper() == "NULL" and b.upper() == "NULL":
        return "NULL"  # untyped: flatten(array(NULL, NULL)) fails analysis
    return (
        f"(CASE WHEN ({a}) IS NULL THEN ({b}) WHEN ({b}) IS NULL THEN ({a}) "
        f"ELSE {_macro_flatten([f'array(({a}), ({b}))'])} END)"
    )


def _merge_macro_tables(*tables: dict) -> dict:
    """Checked merge for the macro registry: a key bound twice to
    DIFFERENT callables is exactly the r8 ``product()`` shadowing bug
    (a second dict entry silently winning) — refuse it loudly at import
    time.  Identical re-registrations are tolerated nowhere either:
    every spelling belongs to one table."""
    out: dict = {}
    for t in tables:
        for k, v in t.items():
            if k in out:
                raise ValueError(
                    f"duplicate macro registration for {k!r}: "
                    f"{out[k]!r} vs {v!r}"
                )
            out[k] = v
    return out


_FN_MACROS_BASE = {
    "array_cosine_similarity": _macro_cosine,
    "list_cosine_similarity": _macro_cosine,
    "array_cosine_distance": _macro_cosine_distance,
    "list_cosine_distance": _macro_cosine_distance,
    "array_inner_product": _macro_inner_product,
    "list_inner_product": _macro_inner_product,
    "array_dot_product": _macro_inner_product,
    "list_dot_product": _macro_inner_product,
    "array_distance": _macro_distance,
    "list_distance": _macro_distance,
    "list_unique": _macro_list_unique,
    "array_unique": _macro_list_unique,
    "list_has_all": _macro_list_has_all,
    "array_has_all": _macro_list_has_all,
    "list_slice": _macro_list_slice,
    "array_slice": _macro_list_slice,
    "list_sum": _macro_list_sum,
    "array_sum": _macro_list_sum,
    "list_avg": _macro_list_avg,
    "array_avg": _macro_list_avg,
    "list_aggregate": _macro_list_aggregate,
    "array_aggregate": _macro_list_aggregate,
    "list_aggr": _macro_list_aggregate,
    "list_reduce": _macro_list_reduce,
    "array_reduce": _macro_list_reduce,
    "sha256": _macro_sha256,
    "to_base": _macro_to_base,
    "log": _macro_log10_single,
    "trim": _macro_trim2,
    "ltrim": _trim_side("LEADING"),
    "rtrim": _trim_side("TRAILING"),
    "dayname": _macro_dayname,
    "monthname": _macro_monthname,
    "isodow": _macro_isodow,
    "yearweek": _macro_yearweek,
    "date_diff": _macro_date_diff,
    "datediff": _macro_date_diff,
    "date_sub": _macro_date_sub3,
    "trunc": _macro_trunc1,
    "isfinite": _macro_isfinite,
    "isinf": _macro_isinf,
    "list_prepend": _macro_list_prepend,
    "least": _macro_least_greatest_double("least"),
    "greatest": _macro_least_greatest_double("greatest"),
    "first_value": _macro_ignore_nulls_inside("first_value"),
    "last_value": _macro_ignore_nulls_inside("last_value"),
    "nth_value": _macro_ignore_nulls_inside("nth_value"),
    "lag": _macro_ignore_nulls_inside("lag"),
    "lead": _macro_ignore_nulls_inside("lead"),
    "product": _macro_product,
    "century": _macro_century,
    "decade": _macro_decade,
    "era": _macro_era,
    "julian": _macro_julian,
    "to_days": _macro_to_interval(slot=0),
    "to_hours": _macro_to_interval(slot=1),
    "to_minutes": _macro_to_interval(slot=2),
    "to_seconds": _macro_to_interval(slot=3),
    "to_weeks": _macro_to_interval(days_mult=7),
    "to_months": _macro_to_interval(days_mult=30),
    "to_years": _macro_to_interval(days_mult=360),
    "jaccard": _macro_jaccard,
    "hamming": _macro_hamming,
    "mismatches": _macro_hamming,
    "parse_path": _macro_parse_path,
    "parse_dirname": _macro_parse_dirname,
    "parse_filename": _macro_parse_filename,
    "date_add": _macro_date_add_interval,
    "dateadd": _macro_date_add_interval,
    "datesub": _macro_date_sub3,
    "datetrunc": lambda args: f"date_trunc({', '.join(a.strip() for a in args)})" if len(args) == 2 else None,
    "regexp_matches": _macro_regexp_matches_flags,
    "even": _macro_even,
    "chr": _macro_chr_codepoint,
    "char": _macro_chr_codepoint,
    "ord": _macro_ord_unicode,
    "unicode": _macro_ord_unicode,
    "list_zip": _macro_list_zip,
    "list_intersect": _macro_list_intersect,
    "array_intersect": _macro_list_intersect,
    "gcd": _macro_gcd,
    "greatest_common_divisor": _macro_gcd,
    "lcm": _macro_lcm,
    "least_common_multiple": _macro_lcm,
    "xor": _macro_xor,
    "signbit": _macro_signbit,
    "gamma": _macro_gamma,
    "lgamma": _macro_lgamma,
    "epoch_ns": _macro_epoch_ns,
    "arg_min": _macro_arg_minmax("min_by"),
    "arg_max": _macro_arg_minmax("max_by"),
    "fdiv": _macro_fdiv,
    "fmod": _macro_fmod,
    "kahan_sum": _macro_kahan_sum,
    "fsum": _macro_kahan_sum,
    "sumkahan": _macro_kahan_sum,
    "current_schema": _macro_current_schema,
    "current_database": _macro_current_database,
    "list_resize": _macro_list_resize,
    "array_resize": _macro_list_resize,
    "format_bytes": _macro_format_bytes,
    "formatreadablesize": _macro_format_bytes,
    "formatreadabledecimalsize": _macro_format_decimal_bytes,
    "histogram": _macro_histogram,
    "entropy": _macro_entropy,
    "encode": _macro_encode1,
    "decode": _macro_decode1,
    "element_at": _macro_map_extract,
    "struct_insert": _macro_struct_insert,
    "list_bool_or": _macro_list_bool("or"),
    "list_bool_and": _macro_list_bool("and"),
    "list_grade_up": _macro_list_grade_up,
    "array_grade_up": _macro_list_grade_up,
    "list_select": _macro_list_select,
    "array_select": _macro_list_select,
    "list_where": _macro_list_where,
    "array_where": _macro_list_where,
    "list_sort": _macro_list_sort,
    "array_sort": _macro_array_sort_direction,
    "list_reverse_sort": _macro_list_reverse_sort,
    "array_reverse_sort": _macro_list_reverse_sort,
    "list_any_value": _macro_list_any_value,
    "list_count": _macro_list_count,
    "range": _macro_scalar_series("range"),
    "generate_series": _macro_scalar_series("generate_series"),
    "format": _macro_format,
    "string_agg": _macro_string_agg_ordered,
    "listagg": _macro_string_agg_ordered,
    "group_concat": _macro_string_agg_ordered,
    "avg": _macro_avg_double,
    "mean": _macro_avg_double,
}

# In-aggregate ORDER BY stripping for order-insensitive aggregates —
# kept as its OWN table so the checked merge rejects a re-registration
# of a spelling the base table already expands (the r8 product() bug).
_FN_MACROS_AGG_ORDER = {
    "count": _strip_agg_order("count"),
    "sum": _strip_agg_order("sum"),
    "min": _strip_agg_order("min"),
    "max": _strip_agg_order("max"),
    "stddev": _strip_agg_order("stddev"),
    "stddev_samp": _strip_agg_order("stddev_samp"),
    "stddev_pop": _strip_agg_order("stddev_pop"),
    "var_samp": _strip_agg_order("var_samp"),
    "var_pop": _strip_agg_order("var_pop"),
    "variance": _strip_agg_order("variance"),
    "bool_and": _strip_agg_order("bool_and"),
    "bool_or": _strip_agg_order("bool_or"),
    "bit_and": _strip_agg_order("bit_and"),
    "bit_or": _strip_agg_order("bit_or"),
    "bit_xor": _strip_agg_order("bit_xor"),
    "median": _strip_agg_order("median"),
}

_FN_MACROS_REGEX_JSON = {
    "quantile_disc": _macro_quantile_disc,
    "skewness": _macro_skewness,
    "kurtosis": _macro_kurtosis,
    "struct_extract": _macro_struct_extract,
    "json_extract": _macro_json_extract,
    "json_extract_string": _macro_json_extract,
    "json_extract_path": _macro_json_extract,
    "json_extract_path_text": _macro_json_extract,
    "json_value": _macro_json_extract,
    "json_valid": _macro_json_valid,
    "regexp_extract": _macro_regexp_extract2,
    "regexp_extract_all": _macro_regexp_extract_all2,
    "regexp_replace": _macro_regexp_replace_flags,
    "regexp_full_match": _macro_regexp_full_match,
    "regexp_escape": _macro_regexp_escape,
    "time_bucket": _macro_time_bucket,
    "array_agg": _macro_array_agg_ordered,
    "list": _macro_array_agg_ordered,
    "collect_list": _macro_array_agg_ordered,
    "first": _ordered_first_last("first"),
    "last": _ordered_first_last("last"),
    "flatten": _macro_flatten,
    "map": _macro_map_ctor,
    "map_extract": _macro_map_extract,
    "unnest": lambda args: f"explode(({args[0].strip()}))" if len(args) == 1 else None,
    "array_to_string": _macro_array_to_string,
    "list_distinct": _macro_list_distinct,
    "array_distinct": _macro_list_distinct,
    "list_contains": _macro_list_contains,
    "list_has": _macro_list_contains,
    "list_concat": _macro_list_concat,
    "list_cat": _macro_list_concat,
    "array_concat": _macro_list_concat,
    "epoch": _macro_epoch,
    "extract": _macro_extract_epoch,
    "struct_pack": _macro_struct_pack,
}

_FN_MACROS = _merge_macro_tables(
    _FN_MACROS_BASE, _FN_MACROS_AGG_ORDER, _FN_MACROS_REGEX_JSON
)


def _rewrite_fn_macros(sql: str) -> str:
    """Expand DuckDB list/array macros into Spark expressions.
    Unrewritable forms (wrong arity, non-literal slice bounds) are left
    untouched so Spark's error names the construct."""
    return _rewrite_calls(sql, _FN_MACROS)
