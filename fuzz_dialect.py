#!/usr/bin/env python3
"""Grammar-level differential SQL fuzzer vs DuckDB (VERDICT r7 #1).

Random typed expression trees (num/str/bool/timestamp; nested scalar
functions, CASE/CAST, three-valued logic, LIKE/IN/BETWEEN, aggregates
with FILTER, GROUP BY, WHERE, subqueries) are rendered into whole
queries over the sf0.001 testdata tables and executed through BOTH
``Engine.run``'s full dialect pipeline AND DuckDB on identical text.
Results compare cell-by-cell (exact for ints/strings/bools, 1e-9
relative tolerance for floats — wide enough to absorb last-ulp noise,
narrow enough that a rounding-mode or precedence bug still trips).

Divergence classes:
  value_mismatch    both engines answered, different values  → FATAL
  spark_error_only  DuckDB answers, the engine raises        → FATAL
  duckdb_error_only engine answers, DuckDB raises (leniency) → info
  both_error        both raise (e.g. division by zero)       → agree

Failing seeds auto-minimize: first to the smallest failing column
subset, then greedily replacing the failing expression with its
same-typed descendants until no smaller subtree still diverges.

Usage:
    python fuzz_dialect.py --seeds 1000           # seeds 0..999
    python fuzz_dialect.py --seeds 200 --start 1000
    python fuzz_dialect.py --one 1234             # replay one seed verbosely

Writes a summary to FUZZ_LOG.md (append) with every divergence's
minimized reproduction; fixed ones get pinned in tests/test_dialect.py.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import math
import os
import random
import re
import sys
from decimal import Decimal

SF_DIR = "/root/testdata/sf0.001"
# the checkout this file sits in: its package and its fixtures are the ones
# under test, wherever the checkout lives
ROOT = os.path.dirname(os.path.abspath(__file__))

# ── typed expression tree ────────────────────────────────────────────────


class E:
    __slots__ = ("sql", "typ", "kids")

    def __init__(self, sql: str, typ: str, kids=()):
        self.sql = sql
        self.typ = typ
        self.kids = tuple(kids)

    def __repr__(self):
        return f"E({self.sql!r})"


# (name, type) per table actually used by the generator
TABLES = {
    "nation_parquet": {
        "num": ["n_nationkey", "n_regionkey"],
        "str": ["n_name"],
        "key": "n_nationkey",
    },
    "supplier_parquet": {
        "num": ["s_suppkey", "s_nationkey", "s_acctbal"],
        "str": ["s_name"],
        "key": "s_suppkey",
    },
    "orders_parquet": {
        "num": ["o_orderkey", "o_custkey", "o_totalprice"],
        "str": ["o_orderstatus", "o_orderpriority"],
        "ts": ["o_orderdate"],
        "key": "o_orderkey",
        "filter": "o_orderkey <= 800",
    },
    "customer_parquet": {
        "num": ["c_custkey", "c_nationkey", "c_acctbal"],
        "str": ["c_name", "c_mktsegment"],
        "key": "c_custkey",
    },
    "region_parquet": {
        "num": ["r_regionkey"],
        "str": ["r_name"],
        "key": "r_regionkey",
    },
    # NULL-rich committed table (tests/data/fuzz_nulls.parquet): ~1/3 NULL
    # ints, NULL/zero doubles, NULL/empty/unicode strings, NULL timestamps
    # — three-valued logic over COLUMN data, which the TPC-H tables
    # (NOT-NULL everywhere) never exercise
    "nulls_parquet": {
        "num": ["n1", "n2"],
        "str": ["s1"],
        "ts": ["t1"],
        "key": "k",
    },
    # Nested/unicode committed table (tests/data/fuzz_nested.parquet, r9):
    # list<bigint> with NULL lists/elements, struct-of-list, struct, map,
    # unicode-heavy strings (combining marks, ß/İ, CJK, emoji, RTL).  The
    # generic grammar reaches the nested types through these derived
    # expressions as "columns" — subscripts, struct fields, map lookups
    # and list HOFs then flow through every shape (GROUP BY, windows,
    # DISTINCT, CASE operands) for free.
    "nested_parquet": {
        "num": [
            "k",
            "len(ls)",
            "ls[1]",
            "ls[-1]",
            "st.a",
            "sl.xs[1]",
            "list_sum(sl.xs)",
            # CAST: DuckDB cardinality is UBIGINT — negating it anywhere
            # downstream (incl. through a macro parameter, seed 676)
            # wraps to 2^64-x there (intentional #9); the signed cast
            # removes the unsigned propagation at the source
            "CAST(cardinality(mp) AS BIGINT)",
            # NOT bare element_at(mp,'x'): that is a one-element LIST in
            # DuckDB (intentional difference #19), so numeric composition
            # over it diverges structurally — [1] makes it scalar in both
            "element_at(mp, 'x')[1]",
            "length(us)",
            "len(ls || [99])",
            "list_sum(list_filter(ls, x -> x > 2))",
        ],
        "str": [
            "us",
            "st.b",
            "sl.name",
            "struct_extract(st, 'b')",
            "us[2:5]",
            "array_to_string(ls, ',')",
            "array_to_string(list_sort(map_values(mp)), '|')",
        ],
        "key": "k",
    },
    # Deep-nesting committed table (tests/data/fuzz_nested2.parquet, r10):
    # map-of-struct, list-of-map, struct-of-map, list-of-list — the
    # composite type frontier VERDICT r9 #5 called out.  Same derived-
    # expression trick: map_extract()[1] keeps DuckDB's list-wrap
    # (intentional #19) scalar on both engines; flatten parity comes from
    # the r10 flatten macro (NULL sub-lists dropped).
    "nested2_parquet": {
        "num": [
            "k",
            "map_extract(ms, 'a')[1].p",
            "CAST(cardinality(ms) AS BIGINT)",
            "len(lm)",
            "element_at(lm[1], 'x')[1]",
            "CAST(list_sum(map_values(sm.m)) AS BIGINT)",
            "ll[1][2]",
            "len(flatten(ll))",
            "CAST(cardinality(lm[1]) AS BIGINT)",
        ],
        "str": [
            "sm.t",
            "map_extract(ms, 'a')[1].q",
            "array_to_string(list_sort(map_keys(ms)), ',')",
            "array_to_string(list_sort(map_keys(sm.m)), '|')",
        ],
        "key": "k",
    },
    # One level deeper (tests/data/fuzz_nested3.parquet, r11 v6):
    # map-of-STRUCT-OF-MAP, list-of-MAP-OF-LIST, struct-of-LIST-OF-LIST
    # — every derived expression below keeps DuckDB's list-wrap
    # (intentional #19) scalar on both engines via map_extract()[1] /
    # element_at()[1], and list_sum casts away DuckDB's HUGEINT.
    "nested3_parquet": {
        "num": [
            "k",
            "map_extract(msm, 'a')[1].p",
            "CAST(cardinality(msm) AS BIGINT)",
            "element_at(map_extract(msm, 'a')[1].mm, 'x')[1]",
            "CAST(cardinality(map_extract(msm, 'a')[1].mm) AS BIGINT)",
            "len(lml)",
            "CAST(cardinality(lml[1]) AS BIGINT)",
            "CAST(list_sum(element_at(lml[1], 'u')[1]) AS BIGINT)",
            "sll.a[1][2]",
            "len(flatten(sll.a))",
            "CAST(list_sum(flatten(sll.a)) AS BIGINT)",
        ],
        "str": [
            "ut",
            "sll.t",
            "array_to_string(list_sort(map_keys(msm)), ',')",
            "array_to_string(list_sort(map_keys(lml[1])), '|')",
            "array_to_string(list_sort(map_keys(map_extract(msm, 'a')[1].mm)), ';')",
        ],
        "key": "k",
    },
}

# join shapes: (left table, right table, join condition, key for ORDER BY)
JOINS = [
    (
        "nation_parquet n",
        "region_parquet r",
        "n.n_regionkey = r.r_regionkey",
        "n.n_nationkey",
        {"num": ["n.n_nationkey", "n.n_regionkey", "r.r_regionkey"],
         "str": ["n.n_name", "r.r_name"]},
    ),
    (
        "supplier_parquet s",
        "nation_parquet n",
        "s.s_nationkey = n.n_nationkey",
        "s.s_suppkey",
        {"num": ["s.s_suppkey", "s.s_acctbal", "n.n_regionkey"],
         "str": ["s.s_name", "n.n_name"]},
    ),
]

NUM_LITS = ["0", "1", "2", "3", "7", "10", "100", "-4", "-1", "2.5", "0.25", "-1.5", "9.99"]
STR_LITS = ["'abc'", "''", "'Hello World'", "'a''b'", "'xy'", "'BUILDING'"]
LIKE_PATS = ["'%a%'", "'A%'", "'%e'", "'_b%'", "'%or%'"]
# full-match semantics in DuckDB (`~` = regexp_full_match — probed: 'abcd' ~ 'b.' is false)
RE_PATS = ["'.*a.*'", "'[A-Z].*'", "'.{0,5}'", "'%'", "'a+'", "'.*(or|er).*'"]
# integer-preserving lambda bodies (no `/`: double rendering inside lists
# has no tolerance in the comparator)
LAMBDAS = ["x -> x * 2", "x -> x + 1", "x -> x - 3", "x -> -x",
           "x -> abs(x)", "x -> x % 4", "x -> greatest(x, 2)", "x -> x // 2"]
TS_UNITS = ["DAY", "HOUR", "MINUTE", "MONTH", "YEAR"]
DP_PARTS = ["'year'", "'month'", "'day'", "'hour'", "'minute'", "'quarter'"]
STRF_FMTS = ["'%Y-%m-%d'", "'%H:%M:%S'", "'%Y/%m'", "'%d %H'"]


class Gen:
    def __init__(self, rng: random.Random, cols: dict):
        self.rng = rng
        self.cols = cols

    def pick(self, xs):
        return self.rng.choice(xs)

    # ── num ──
    def num(self, d: int) -> E:
        r = self.rng
        if d <= 0 or r.random() < 0.25:
            if self.cols.get("num") and r.random() < 0.55:
                return E(self.pick(self.cols["num"]), "num")
            if r.random() < 0.06:
                return E("CAST(NULL AS INTEGER)", "num")
            return E(self.pick(NUM_LITS), "num")
        choice = r.randrange(16)
        if choice < 4:
            a, b = self.num(d - 1), self.num(d - 1)
            op = self.pick(["+", "-", "*", "/", "%", "//"])
            return E(f"({a.sql} {op} {b.sql})", "num", (a, b))
        if choice == 12:
            l = self.lst(d - 1)
            form = r.randrange(6)
            if form == 0:
                return E(f"{self.pick(['len', 'array_length'])}({l.sql})", "num", (l,))
            if form == 1:
                return E(f"list_sum({l.sql})", "num", (l,))
            if form == 2:
                fn = self.pick(["list_max", "list_min"])
                return E(f"{fn}({l.sql})", "num", (l,))
            if form == 3:
                i = self.pick([1, 2, 3, 4, 5, -1, -2])
                return E(f"({l.sql})[{i}]", "num", (l,))
            if form == 4:
                return E(f"list_position({l.sql}, {r.randrange(0, 9)})", "num", (l,))
            return E(f"list_unique({l.sql})", "num", (l,))
        if choice == 13:
            a = self.num(d - 1)
            op = self.pick(["^", "**"])
            return E(f"((abs({a.sql}) % 10) {op} {r.randrange(0, 4)})", "num", (a,))
        if choice == 14 and self.cols.get("ts"):
            t = self.ts(d - 1)
            form = r.randrange(3)
            if form == 0:
                return E(f"date_part({self.pick(DP_PARTS)}, {t.sql})", "num", (t,))
            if form == 1:
                return E(
                    f"datediff('day', DATE '1995-01-01', CAST({t.sql} AS DATE))",
                    "num", (t,))
            return E(f"{self.pick(['week', 'quarter', 'isodow'])}({t.sql})", "num", (t,))
        if choice == 15:
            form = r.randrange(3)
            if form == 0:
                a, b = self.num(0), self.num(0)
                key = self.pick(["a", "b"])
                return E(f"({{'a': {a.sql}, 'b': {b.sql}}}).{key}", "num", (a, b))
            if form == 1:
                # DuckDB int casts ROUND half-away (2.5::BIGINT = 3)
                a = self.num(d - 1)
                t = self.pick(["BIGINT", "INTEGER", "INT"])
                if r.random() < 0.5:
                    return E(f"(({a.sql})::{t})", "num", (a,))
                return E(f"CAST(({a.sql}) AS {t})", "num", (a,))
            a = self.num(d - 1)
            return E(f"(({a.sql})::DOUBLE)", "num", (a,))
        if choice == 4:
            a = self.num(d - 1)
            fn = self.pick(["abs", "floor", "ceil", "sign", "round"])
            return E(f"{fn}({a.sql})", "num", (a,))
        if choice == 5:
            a = self.num(d - 1)
            nd = r.randrange(1, 3)
            return E(f"round({a.sql}, {nd})", "num", (a,))
        if choice == 6:
            form = r.randrange(4)
            if form == 0:
                a = self.num(d - 1)
                return E(f"even({a.sql})", "num", (a,))
            if form == 1:
                a, b = self.num(0), self.num(0)
                fn = self.pick(["gcd", "lcm", "xor"])
                return E(
                    f"{fn}(CAST({a.sql} AS BIGINT), CAST({b.sql} AS BIGINT))",
                    "num", (a, b))
            a, b = self.num(d - 1), self.num(d - 1)
            fn = self.pick(["greatest", "least", "nullif", "coalesce"])
            return E(f"{fn}({a.sql}, {b.sql})", "num", (a, b))
        if choice == 7:
            s = self.s(d - 1)
            return E(f"length({s.sql})", "num", (s,))
        if choice == 8:
            b, a, c = self.b(d - 1), self.num(d - 1), self.num(d - 1)
            return E(
                f"(CASE WHEN {b.sql} THEN {a.sql} ELSE {c.sql} END)",
                "num",
                (b, a, c),
            )
        if choice == 9:
            a = self.num(d - 1)
            fn = self.pick(["sqrt", "ln"])
            return E(f"{fn}(abs({a.sql}) + 1)", "num", (a,))
        if choice == 10 and self.cols.get("ts"):
            t = self.ts(d - 1)
            fn = self.pick(["year", "month", "day"])
            return E(f"{fn}({t.sql})", "num", (t,))
        a = self.num(d - 1)
        return E(f"(- {a.sql})", "num", (a,))

    # ── str ──
    def s(self, d: int) -> E:
        r = self.rng
        if d <= 0 or r.random() < 0.3:
            if self.cols.get("str") and r.random() < 0.55:
                return E(self.pick(self.cols["str"]), "str")
            if r.random() < 0.06:
                return E("CAST(NULL AS VARCHAR)", "str")
            return E(self.pick(STR_LITS), "str")
        choice = r.randrange(13)
        if choice == 0:
            a = self.s(d - 1)
            fn = self.pick(["lower", "upper", "trim", "reverse"])
            if r.random() < 0.4:  # DuckDB method-chain spelling
                return E(f"({a.sql}).{fn}()", "str", (a,))
            return E(f"{fn}({a.sql})", "str", (a,))
        if choice == 9:
            a = self.s(d - 1)
            if r.random() < 0.5:
                i = self.pick([1, 2, 3, -1, -2, 7])
                return E(f"({a.sql})[{i}]", "str", (a,))
            i, j = r.randrange(1, 4), r.randrange(2, 7)
            return E(f"({a.sql})[{i}:{j}]", "str", (a,))
        if choice == 10:
            a = self.s(d - 1)
            return E(f"repeat({a.sql}, {r.randrange(0, 4)})", "str", (a,))
        if choice == 11 and self.cols.get("ts"):
            t = self.ts(d - 1)
            form = r.randrange(3)
            if form == 0:
                return E(f"strftime({t.sql}, {self.pick(STRF_FMTS)})", "str", (t,))
            return E(f"{self.pick(['dayname', 'monthname'])}({t.sql})", "str", (t,))
        if choice == 12:
            form = r.randrange(3)
            if form == 0:
                l = self.lst(d - 1)
                return E(f"array_to_string({l.sql}, ',')", "str", (l,))
            if form == 1:
                doc = "'{\"a\": 1, \"b\": {\"c\": 5}, \"d\": [7, 8]}'"
                path = self.pick(
                    [f"{doc} ->> 'a'", f"{doc} -> 'b' ->> 'c'",
                     f"{doc} -> 'd' ->> 1", f"{doc} ->> 'missing'"]
                )
                return E(f"({path})", "str")
            a = self.s(d - 1)
            return E(f"(({a.sql})::VARCHAR)", "str", (a,))
        if choice == 1:
            a = self.s(d - 1)
            i, n = r.randrange(1, 5), r.randrange(0, 6)
            return E(f"substr({a.sql}, {i}, {n})", "str", (a,))
        if choice == 2:
            a, b = self.s(d - 1), self.s(d - 1)
            return E(f"({a.sql} || {b.sql})", "str", (a, b))
        if choice == 3:
            a, b = self.s(d - 1), self.s(d - 1)
            return E(f"concat({a.sql}, {b.sql})", "str", (a, b))
        if choice == 4:
            a = self.s(d - 1)
            if r.random() < 0.5:
                pat = self.pick(["'a'", "'[aeo]'", "'l+'", "'.'", "'x*'"])
                fl = self.pick(["", ", 'g'", ", 'i'"])
                return E(
                    f"regexp_replace({a.sql}, {pat}, '_'{fl})", "str", (a,)
                )
            return E(f"replace({a.sql}, 'a', 'o')", "str", (a,))
        if choice == 5:
            a = self.s(d - 1)
            k = r.randrange(1, 6)
            fn = self.pick(["left", "right"])
            return E(f"{fn}({a.sql}, {k})", "str", (a,))
        if choice == 6:
            a = self.s(d - 1)
            k = r.randrange(1, 8)
            fn = self.pick(["lpad", "rpad"])
            return E(f"{fn}({a.sql}, {k}, '*')", "str", (a,))
        if choice == 7:
            b, a, c = self.b(d - 1), self.s(d - 1), self.s(d - 1)
            return E(
                f"(CASE WHEN {b.sql} THEN {a.sql} ELSE {c.sql} END)",
                "str",
                (b, a, c),
            )
        a, b = self.s(d - 1), self.s(d - 1)
        fn = self.pick(["coalesce", "nullif"])
        return E(f"{fn}({a.sql}, {b.sql})", "str", (a, b))

    # ── bool ──
    def b(self, d: int) -> E:
        r = self.rng
        if d <= 0:
            a, b = self.num(0), self.num(0)
            op = self.pick(["=", "<>", "<", "<=", ">", ">="])
            return E(f"({a.sql} {op} {b.sql})", "bool", (a, b))
        choice = r.randrange(12)
        if choice < 2:
            a, b = self.num(d - 1), self.num(d - 1)
            op = self.pick(["=", "<>", "<", "<=", ">", ">="])
            return E(f"({a.sql} {op} {b.sql})", "bool", (a, b))
        if choice == 9:
            a = self.s(d - 1)
            form = r.randrange(3)
            if form == 0:
                return E(f"({a.sql} ~ {self.pick(RE_PATS)})", "bool", (a,))
            if form == 1:
                return E(f"({a.sql} !~ {self.pick(RE_PATS)})", "bool", (a,))
            return E(f"({a.sql} SIMILAR TO {self.pick(RE_PATS)})", "bool", (a,))
        if choice == 10:
            a = self.s(d - 1)
            if r.random() < 0.4:
                pat = self.pick(["'*a*'", "'?b*'", "'[A-Z]*'", "'*[0-9]'",
                                 "'w*'", "'[!x]*'"])
                return E(f"({a.sql} GLOB {pat})", "bool", (a,))
            return E(f"({a.sql} ILIKE {self.pick(LIKE_PATS)})", "bool", (a,))
        if choice == 11:
            l, v = self.lst(d - 1), self.num(0)
            return E(f"list_contains({l.sql}, {v.sql})", "bool", (l, v))
        if choice == 2:
            a, b = self.s(d - 1), self.s(d - 1)
            op = self.pick(["=", "<>", "<", ">"])
            return E(f"({a.sql} {op} {b.sql})", "bool", (a, b))
        if choice == 3:
            a, b = self.b(d - 1), self.b(d - 1)
            op = self.pick(["AND", "OR"])
            return E(f"({a.sql} {op} {b.sql})", "bool", (a, b))
        if choice == 4:
            a = self.b(d - 1)
            return E(f"(NOT {a.sql})", "bool", (a,))
        if choice == 5:
            a = self.pick([self.num(d - 1), self.s(d - 1)])
            form = self.pick(["IS NULL", "IS NOT NULL"])
            return E(f"({a.sql} {form})", "bool", (a,))
        if choice == 6:
            a = self.s(d - 1)
            return E(f"({a.sql} LIKE {self.pick(LIKE_PATS)})", "bool", (a,))
        if choice == 7:
            a, lo, hi = self.num(d - 1), self.num(0), self.num(0)
            return E(
                f"({a.sql} BETWEEN {lo.sql} AND {hi.sql})", "bool", (a, lo, hi)
            )
        a = self.num(d - 1)
        lits = ", ".join(self.pick(NUM_LITS) for _ in range(3))
        return E(f"({a.sql} IN ({lits}))", "bool", (a,))

    # ── timestamp ──
    def ts(self, d: int) -> E:
        r = self.rng
        if d <= 0 or r.random() < 0.5:
            if self.cols.get("ts") and r.random() < 0.7:
                return E(self.pick(self.cols["ts"]), "ts")
            return E("TIMESTAMP '1995-06-17 12:30:00'", "ts")
        choice = r.randrange(3)
        if choice == 0:
            t = self.ts(d - 1)
            op = self.pick(["+", "-"])
            unit = self.pick(TS_UNITS)
            if r.random() < 0.3:
                # DuckDB dynamic interval: INTERVAL (expr) UNIT
                a = self.num(0)
                return E(
                    f"({t.sql} {op} INTERVAL ((abs({a.sql}) % 30)) {unit})",
                    "ts", (t, a))
            k = r.randrange(1, 30)
            return E(f"({t.sql} {op} INTERVAL {k} {unit})", "ts", (t,))
        if choice == 1:
            t = self.ts(d - 1)
            gran = self.pick(["'year'", "'month'", "'day'", "'hour'"])
            return E(f"date_trunc({gran}, {t.sql})", "ts", (t,))
        t = self.ts(d - 1)
        k = self.pick([5, 15, 60])
        return E(f"time_bucket(INTERVAL {k} MINUTE, {t.sql})", "ts", (t,))

    # ── integer list ──
    def lst(self, d: int) -> E:
        r = self.rng
        if d <= 0 or r.random() < 0.4:
            if r.random() < 0.25:
                lo = r.randrange(-2, 4)
                return E(f"range({lo}, {lo + r.randrange(0, 5)})", "lst")
            n = r.randrange(0, 5)
            items = [self.pick(["0", "1", "2", "3", "7", "-4", "-1", "9", "NULL"])
                     for _ in range(n)]
            return E(f"[{', '.join(items)}]", "lst")
        choice = r.randrange(7)
        if choice == 6:
            # DuckDB list comprehension [expr FOR x IN list IF pred]
            a = self.lst(d - 1)
            body = self.pick(["x * 2", "x + 1", "abs(x)", "-x", "x % 3"])
            cond = self.pick([None, "x > 1", "x % 2 = 0", "x IS NOT NULL"])
            if cond:
                return E(f"[{body} FOR x IN {a.sql} IF {cond}]", "lst", (a,))
            return E(f"[{body} FOR x IN {a.sql}]", "lst", (a,))
        if choice == 0:
            a, b = self.lst(d - 1), self.lst(d - 1)
            if r.random() < 0.5:
                return E(f"({a.sql} || {b.sql})", "lst", (a, b))
            return E(f"list_concat({a.sql}, {b.sql})", "lst", (a, b))
        if choice == 1:
            a = self.lst(d - 1)
            fn = self.pick(["list_sort", "list_reverse"])
            return E(f"{fn}({a.sql})", "lst", (a,))
        if choice == 2:
            # list_distinct's order is unstable (probed) — sort to compare
            a = self.lst(d - 1)
            return E(f"list_sort(list_distinct({a.sql}))", "lst", (a,))
        if choice == 3:
            a = self.lst(d - 1)
            return E(f"list_transform({a.sql}, {self.pick(LAMBDAS)})", "lst", (a,))
        if choice == 4:
            a = self.lst(d - 1)
            cmp_ = self.pick(["x > 1", "x % 2 = 0", "x IS NOT NULL", "x < 5"])
            return E(f"list_filter({a.sql}, x -> {cmp_})", "lst", (a,))
        a = self.lst(d - 1)
        i, j = r.randrange(1, 4), r.randrange(1, 6)
        if r.random() < 0.5:
            return E(f"list_slice({a.sql}, {i}, {j})", "lst", (a,))
        form = r.randrange(3)
        if form == 0:
            return E(f"({a.sql})[{i}:{j}]", "lst", (a,))
        if form == 1:
            return E(f"({a.sql})[{i}:]", "lst", (a,))
        return E(f"({a.sql})[:{j}]", "lst", (a,))

    def any_expr(self, d: int) -> E:
        k = self.rng.randrange(4)
        if k == 0:
            return self.b(d)
        if k == 1:
            return self.s(d)
        return self.num(d)

    def agg(self, d: int) -> E:
        r = self.rng
        choice = r.randrange(9)
        if choice == 0:
            return E("count(*)", "num")
        if choice == 1:
            a = self.num(d)
            return E(f"count(DISTINCT {a.sql})", "num", (a,))
        if choice < 6:
            a = self.num(d)
            fn = self.pick(["sum", "avg", "min", "max", "stddev_samp", "var_samp"])
            if r.random() < 0.3:
                b = self.b(d - 1)
                return E(
                    f"{fn}({a.sql}) FILTER (WHERE {b.sql})", "num", (a, b)
                )
            return E(f"{fn}({a.sql})", "num", (a,))
        if choice == 6:
            a = self.s(d)
            fn = self.pick(["min", "max"])
            return E(f"{fn}({a.sql})", "num", (a,))
        a = self.num(d)
        return E(f"count({a.sql})", "num", (a,))


# ── query shapes ─────────────────────────────────────────────────────────


def gen_query(rng: random.Random):
    """Returns (render_fn, exprs) — render_fn(subset) rebuilds the query
    with only those select expressions, for shrinking."""
    shape = rng.randrange(28)
    if shape == 27:  # bounded recursive CTE
        k = rng.randrange(3, 12)
        g = Gen(rng, {"num": ["n"]})
        expr = g.num(rng.randrange(1, 3))
        exprs = [expr]

        def render(es):
            return (
                f"WITH RECURSIVE s(n) AS (SELECT 1 UNION ALL "
                f"SELECT n + 1 FROM s WHERE n < {k}) "
                f"SELECT n AS k, {es[0].sql} AS c0 FROM s ORDER BY n"
            )

        return render, exprs
    if shape >= 24:
        table = rng.choice(list(TABLES))
        cols = TABLES[table]
        g = Gen(rng, cols)
        base_filter = cols.get("filter")
        w = f" WHERE {base_filter}" if base_filter else ""
        if shape == 24:  # ROLLUP / CUBE / GROUPING SETS + grouping()
            k1 = rng.choice(cols["num"])
            k2 = rng.choice(cols["str"])
            form = rng.choice(
                [f"ROLLUP ({k1}, {k2})", f"CUBE ({k1}, {k2})",
                 f"GROUPING SETS (({k1}), ({k2}), ())"]
            )
            exprs = [g.agg(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]

            def render(es):
                sel = ", ".join(f"{e.sql} AS a{i}" for i, e in enumerate(es))
                order = ", ".join(
                    ["g1", "g2", "k1 NULLS FIRST", "k2 NULLS FIRST"]
                    + [f"a{i} NULLS FIRST" for i in range(len(es))]
                )
                return (
                    f"SELECT {k1} AS k1, {k2} AS k2, "
                    f"grouping({k1}) AS g1, grouping({k2}) AS g2, {sel} "
                    f"FROM {table}{w} GROUP BY {form} ORDER BY {order}"
                )

            return render, exprs
        if shape == 25:  # DISTINCT ON
            dkey = rng.choice(cols["num"] + cols["str"])
            exprs = [g.any_expr(rng.randrange(1, 3))
                     for _ in range(rng.randrange(1, 3))]

            def render(es):
                sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
                return (
                    f"SELECT DISTINCT ON ({dkey}) {dkey} AS dk, {sel} "
                    f"FROM {table}{w} ORDER BY {dkey}, {cols['key']}"
                )

            return render, exprs
        # FROM-first statement
        exprs = [g.any_expr(rng.randrange(1, 3))
                 for _ in range(rng.randrange(1, 3))]

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            return (
                f"FROM {table} SELECT {cols['key']} AS k, {sel}{w} "
                f"ORDER BY k"
            )

        return render, exprs
    if shape < 3:  # scalar, no FROM
        g = Gen(rng, {})
        exprs = [g.any_expr(rng.randrange(1, 4)) for _ in range(rng.randrange(2, 7))]

        def render(es):
            cols = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            return f"SELECT {cols}"

        return render, exprs
    table = rng.choice(list(TABLES))
    cols = TABLES[table]
    g = Gen(rng, cols)
    if shape < 7:  # row-shape over a table
        exprs = [g.any_expr(rng.randrange(1, 4)) for _ in range(rng.randrange(2, 6))]
        where = g.b(rng.randrange(1, 3)) if rng.random() < 0.5 else None
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            conds = [c for c in [base_filter, f"({where.sql})" if where else None] if c]
            w = f" WHERE {' AND '.join(conds)}" if conds else ""
            return (
                f"SELECT {sel} FROM {table}{w} ORDER BY {cols['key']}"
            )

        return render, exprs
    if shape < 10:  # agg-shape (+ optional HAVING; 25% GROUP BY ordinal)
        gkey = rng.choice(cols["num"] + cols["str"])
        by_ordinal = rng.random() < 0.25
        exprs = [g.agg(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 4))]
        having = None
        if rng.random() < 0.4:
            having = rng.choice(
                ["count(*) >= 1",
                 f"count(*) > {rng.randrange(0, 3)}",
                 f"max({rng.choice(cols['num'])}) IS NOT NULL",
                 f"avg({rng.choice(cols['num'])}) <> 0.125"]
            )
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS a{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            h = f" HAVING {having}" if having else ""
            gb = "1" if by_ordinal else gkey
            return (
                f"SELECT {gkey} AS k, {sel} FROM {table}{w} "
                f"GROUP BY {gb}{h} ORDER BY k"
            )

        return render, exprs
    if shape == 10:  # window functions over a table (wave-13 widened grammar)
        exprs = [g.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]
        part = rng.choice(cols["num"] + cols["str"])
        # r11 v6: 40% of the time the window aggregand is a full
        # dialect-rewritten numeric expression (// % concat-NULL packs,
        # list HOFs) instead of a bare column — frames over rewritten
        # expressions were an untested interaction
        ncol = (
            f"({g.num(rng.randrange(1, 3)).sql})"
            if rng.random() < 0.4
            else rng.choice(cols["num"])
        )
        # rank family takes no frame; value/agg functions may take one
        wfn, frameable = rng.choice(
            [("row_number()", False), ("rank()", False), ("dense_rank()", False),
             (f"ntile({rng.randrange(1, 5)})", False),
             ("percent_rank()", False), ("cume_dist()", False),
             ("count(*)", True), (f"count({ncol})", True),
             (f"sum({ncol})", True), (f"avg({ncol})", True),
             (f"min({ncol})", True), (f"max({ncol})", True),
             (f"first_value({ncol})", True), (f"last_value({ncol})", True),
             (f"nth_value({ncol}, {rng.randrange(1, 4)})", True),
             (f"lag({ncol})", False), (f"lead({ncol})", False),
             (f"lag({ncol}, 2, {rng.choice(['0', '-1'])})", False),
             (f"lead({ncol}, {rng.randrange(1, 3)}, 99)", False),
             (f"count(DISTINCT {rng.choice(cols['num'] + cols['str'])})",
              True),
             (f"min(DISTINCT {ncol})", True),
             (f"count({ncol}) FILTER (WHERE {ncol} IS NOT NULL)", True),
             (f"sum({ncol}) FILTER (WHERE {ncol} > 5)", True),
             (f"count(*) FILTER (WHERE {ncol} % 2 = 0)", True)]
        )
        # every key column is unique + non-null, so any direction is total
        # order and the window value is deterministic
        direction = rng.choice(["", " DESC", " ASC", " DESC NULLS LAST",
                                " NULLS FIRST"])
        frame = ""
        if frameable and rng.random() < 0.6:
            # RANGE frames are legal here because the order key is numeric
            frame = rng.choice(
                [" ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
                 " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
                 " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                 " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
                 " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
                 f" RANGE BETWEEN {rng.randrange(1, 6)} PRECEDING AND CURRENT ROW",
                 f" RANGE BETWEEN {rng.randrange(1, 4)} PRECEDING"
                 f" AND {rng.randrange(1, 4)} FOLLOWING",
                 " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"]
            )
        named = rng.random() < 0.3  # WINDOW w AS (...) named-window form
        base_filter = cols.get("filter")
        spec = f"PARTITION BY {part} ORDER BY {cols['key']}{direction}{frame}"

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            if named:
                return (
                    f"SELECT {sel}, {wfn} OVER w AS wv FROM {table}{w} "
                    f"WINDOW w AS ({spec}) ORDER BY {cols['key']}"
                )
            return (
                f"SELECT {sel}, {wfn} OVER ({spec}) AS wv "
                f"FROM {table}{w} ORDER BY {cols['key']}"
            )

        return render, exprs
    if shape == 11:  # DISTINCT projection
        exprs = [g.any_expr(rng.randrange(0, 2)) for _ in range(rng.randrange(1, 3))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            order = ", ".join(f"c{i} NULLS FIRST" for i in range(len(es)))
            return f"SELECT DISTINCT {sel} FROM {table}{w} ORDER BY {order}"

        return render, exprs
    if shape == 12:  # UNION ALL of two compatible branches
        exprs = [g.num(rng.randrange(1, 3)) for _ in range(2)]
        base_filter = cols.get("filter")

        def render(es):
            w = f" WHERE {base_filter}" if base_filter else ""
            branches = " UNION ALL ".join(
                f"SELECT {cols['key']} AS k, {e.sql} AS v FROM {table}{w}"
                for e in es
            )
            return f"SELECT * FROM ({branches}) ORDER BY k, v NULLS FIRST"

        return render, exprs
    if shape == 13:  # scalar subquery in the select list
        inner = rng.choice(cols["num"])
        exprs = [g.num(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(
                f"((SELECT max({inner}) FROM {table}) + {e.sql}) AS c{i}"
                for i, e in enumerate(es)
            )
            w = f" WHERE {base_filter}" if base_filter else ""
            return f"SELECT {sel} FROM {table}{w} ORDER BY {cols['key']}"

        return render, exprs
    if shape == 14:  # CTE wrapper
        exprs = [g.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 4))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            return (
                f"WITH base AS (SELECT * FROM {table}{w}) "
                f"SELECT {sel} FROM base ORDER BY {cols['key']}"
            )

        return render, exprs
    if shape == 15:  # IN / EXISTS subquery predicate
        sub = rng.choice(cols["num"])
        exprs = [g.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]
        base_filter = cols.get("filter")
        pred = rng.choice(
            [
                f"{cols['key']} IN (SELECT {sub} FROM {table})",
                f"EXISTS (SELECT 1 FROM {table} t2 WHERE t2.{sub} = {table}.{cols['key']})",
            ]
        )

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            conds = [c for c in [base_filter, pred] if c]
            return (
                f"SELECT {sel} FROM {table} WHERE {' AND '.join(conds)} "
                f"ORDER BY {cols['key']}"
            )

        return render, exprs
    if shape == 17:  # GROUP BY ALL (DuckDB idiom)
        gkey = rng.choice(cols["num"] + cols["str"])
        exprs = [g.agg(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 4))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS a{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            # shrinking can replace an aggregate with a plain column, which
            # GROUP BY ALL then treats as a grouping key — order by every
            # output column so ties stay deterministic
            order = ", ".join(["k"] + [f"a{i}" for i in range(len(es))])
            return (
                f"SELECT {gkey} AS k, {sel} FROM {table}{w} "
                f"GROUP BY ALL ORDER BY {order}"
            )

        return render, exprs
    if shape == 18:  # QUALIFY over a window
        part = rng.choice(cols["num"] + cols["str"])
        lim = rng.randrange(1, 4)
        exprs = [g.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            return (
                f"SELECT {cols['key']} AS k, {sel}, row_number() OVER "
                f"(PARTITION BY {part} ORDER BY {cols['key']}) AS rn "
                f"FROM {table}{w} QUALIFY rn <= {lim} ORDER BY k"
            )

        return render, exprs
    if shape == 19:  # SELECT * EXCLUDE / REPLACE
        all_cols = cols["num"] + cols["str"] + cols.get("ts", [])
        victim = rng.choice([c for c in all_cols if c != cols["key"]])
        exprs = [g.num(rng.randrange(1, 3))]
        base_filter = cols.get("filter")
        use_exclude = rng.random() < 0.5
        repl_col = rng.choice(cols["num"])

        def render(es):
            w = f" WHERE {base_filter}" if base_filter else ""
            if use_exclude:
                star = f"* EXCLUDE ({victim})"
            else:
                # the replaced key column may no longer be unique —
                # ORDER BY ALL keeps tied rows deterministic
                star = f"* REPLACE (({repl_col} + {es[0].sql}) AS {repl_col})"
            return f"SELECT {star} FROM {table}{w} ORDER BY ALL"

        return render, exprs
    if shape == 20:  # ORDER BY ALL
        exprs = [g.pick([g.num(rng.randrange(1, 3)), g.s(rng.randrange(1, 3))])
                 for _ in range(rng.randrange(1, 4))]
        base_filter = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            return (
                f"SELECT {cols['key']} AS k, {sel} FROM {table}{w} "
                f"ORDER BY ALL"
            )

        return render, exprs
    if shape == 21:  # unnest of a generated list
        lists = [g.lst(rng.randrange(1, 3)) for _ in range(1)]
        exprs = lists

        def render(es):
            return (
                f"SELECT unnest({es[0].sql}) AS u ORDER BY u NULLS FIRST"
            )

        return render, exprs
    if shape == 22:  # ORDER BY (either direction) + LIMIT / OFFSET
        exprs = [g.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 3))]
        base_filter = cols.get("filter")
        direction = rng.choice(["", " DESC"])
        lim = rng.randrange(1, 12)
        off = rng.choice([None, 0, 1, 3, 10])

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter}" if base_filter else ""
            o = f" OFFSET {off}" if off is not None else ""
            return (
                f"SELECT {cols['key']} AS k, {sel} FROM {table}{w} "
                f"ORDER BY {cols['key']}{direction} LIMIT {lim}{o}"
            )

        return render, exprs
    if shape == 23:  # outer-join depth: FULL / RIGHT / self-join USING
        variant = rng.choice(["full", "right", "using"])
        if variant == "using":
            jcols = {"num": ["a.n_nationkey", "b.n_nationkey", "a.n_regionkey"],
                     "str": ["a.n_name", "b.n_name"]}
            jg = Gen(rng, jcols)
            exprs = [jg.any_expr(rng.randrange(1, 3))
                     for _ in range(rng.randrange(1, 3))]

            def render(es):
                sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
                return (
                    f"SELECT a.n_nationkey AS k1, b.n_nationkey AS k2, {sel} "
                    f"FROM nation_parquet a JOIN nation_parquet b "
                    f"USING (n_regionkey) ORDER BY k1, k2"
                )

            return render, exprs
        # FULL / RIGHT with a join-side predicate so both sides have
        # unmatched (NULL-extended) rows — (k1, k2) stays a total order
        jtype = "FULL JOIN" if variant == "full" else "RIGHT JOIN"
        lim = rng.randrange(1, 4)
        jcols = {"num": ["n.n_nationkey", "n.n_regionkey", "r.r_regionkey"],
                 "str": ["n.n_name", "r.r_name"]}
        jg = Gen(rng, jcols)
        exprs = [jg.any_expr(rng.randrange(1, 3))
                 for _ in range(rng.randrange(1, 3))]

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            return (
                f"SELECT n.n_nationkey AS k1, r.r_regionkey AS k2, {sel} "
                f"FROM nation_parquet n {jtype} region_parquet r "
                f"ON n.n_regionkey = r.r_regionkey AND r.r_regionkey < {lim} "
                f"ORDER BY k1 NULLS FIRST, k2 NULLS FIRST"
            )

        return render, exprs
    if shape == 16 and rng.random() < 0.5:  # LATERAL correlated subquery
        # (the other half of shape 16 falls through to the join shape)
        corr = rng.choice(cols["num"])
        sub_agg = rng.choice(["max", "min", "count", "sum"])
        exprs = [g.any_expr(rng.randrange(1, 3))
                 for _ in range(rng.randrange(1, 3))]
        base_filter2 = cols.get("filter")

        def render(es):
            sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
            w = f" WHERE {base_filter2}" if base_filter2 else ""
            return (
                f"SELECT t.{cols['key']} AS k, l.v, {sel} "
                # abs() keeps the correlated input NON-empty (>= nation 0):
                # an empty input hits documented intentional difference #15
                # (DuckDB's decorrelation drops the outer row, the COUNT
                # bug; we keep standard one-NULL-row semantics)
                f"FROM {table} t, LATERAL (SELECT {sub_agg}(n_regionkey) AS v "
                f"FROM nation_parquet nn "
                f"WHERE nn.n_nationkey <= abs(coalesce(t.{corr}, 0)) % 25) l"
                f"{w.replace(base_filter2, 't.' + base_filter2) if base_filter2 else ''} "
                f"ORDER BY k"
            )

        return render, exprs
    # join shape
    left, right, cond, key, jcols = rng.choice(JOINS)
    jg = Gen(rng, jcols)
    exprs = [jg.any_expr(rng.randrange(1, 3)) for _ in range(rng.randrange(1, 4))]
    jtype = rng.choice(["JOIN", "LEFT JOIN"])

    def render(es):
        sel = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(es))
        return (
            f"SELECT {sel} FROM {left} {jtype} {right} ON {cond} "
            f"ORDER BY {key}"
        )

    return render, exprs


# ── mutation: comments / whitespace / keyword case ───────────────────────
#
# Comments and whitespace are semantically neutral in BOTH engines, and
# unquoted identifiers/keywords are case-insensitive in both — so a
# mutated query must return exactly the base query's result.  Any
# divergence introduced by mutation is a lexer/mask bug in one of the
# ~30 dialect rewrite passes (two real ones were found by hand before
# this existed: ORDER BY trailing comments, keyword-adjacent unary minus).


def _ws_runs_and_words(sql: str):
    """(kind, start, end) spans outside string literals: kind 'ws' for
    whitespace runs, 'word' for alphabetic identifier/keyword tokens."""
    spans = []
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            i += 1
            continue
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            spans.append(("ws", i, j))
            i = j
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            spans.append(("word", i, j))
            i = j
            continue
        i += 1
    return spans


_WS_FILLERS = [
    " /*c*/ ", " /* a 'b' -- not a line comment */ ", "\n", "\t", "   ",
    " -- tail comment\n", " /*x*/\n/*y*/ ", "\n  -- note\n  ",
]


def mutate(sql: str, rng: random.Random) -> str:
    """Inject comments/whitespace into existing gaps and flip the case of
    unquoted word tokens.  Never touches string literals; never creates or
    removes a token boundary (fillers only replace existing whitespace)."""
    spans = _ws_runs_and_words(sql)
    out = []
    pos = 0
    for kind, s, e in spans:
        out.append(sql[pos:s])
        seg = sql[s:e]
        if kind == "ws":
            if rng.random() < 0.35:
                seg = rng.choice(_WS_FILLERS)
        else:
            # a word followed by `:=` is a named macro argument / default
            # parameter: DuckDB binds those by EXACT definition case
            # (documented intentional difference #14) — don't mutate them
            k = e
            while k < len(sql) and sql[k].isspace():
                k += 1
            if sql.startswith(":=", k):
                out.append(seg)
                pos = e
                continue
            r = rng.random()
            if "_" in seg and seg == seg.lower() and r < 0.10:
                # column/table tokens (keywords never contain "_"):
                # DuckDB double-quotes identifiers, case-sensitively —
                # only quote the already-lowercase spelling
                seg = f'"{seg}"'
            elif r < 0.15:
                seg = seg.upper()
            elif r < 0.30:
                seg = seg.lower()
        out.append(seg)
        pos = e
    out.append(sql[pos:])
    return "".join(out)


# ── statement-sequence shapes (--statements) ─────────────────────────────
#
# The grammar above exercises single SELECTs through the dialect pipeline;
# these sequences exercise the ENGINE ROUTING layer (CREATE/DROP MACRO
# registration + expansion, the PIVOT statement handler) that single-query
# fuzzing never reaches.  Both engines execute the same statements in
# order; every SELECT-ish statement's result must match.


def gen_statement_seq(rng: random.Random):
    """Returns a list of SQL statements; results compared for each one
    that yields rows (CREATE/DROP MACRO yield none on DuckDB's side and a
    dummy Count row on the engine's — skipped from comparison)."""
    shape = rng.randrange(19)
    table = rng.choice(list(TABLES))
    cols = TABLES[table]
    key = cols["key"]
    base_filter = cols.get("filter")
    w = f" WHERE {base_filter}" if base_filter else ""
    if shape == 15:  # r12 v7: COPY ... TO round-trip — sink then re-scan
        # through the sniffed path-view reader (header/delimiter/type
        # auto-detection parity; the COPY count row is compared too)
        c1 = rng.choice(cols["num"])
        c2 = rng.choice(cols["str"])
        fid = rng.randrange(10**9)
        fmt, ext, opts = rng.choice(
            [
                ("csv", "csv", "(FORMAT csv, HEADER)"),
                ("csv", "csv", "(FORMAT csv, HEADER false)"),
                ("csv", "csv", "(FORMAT csv, HEADER false, DELIMITER '|')"),
                ("parquet", "parquet", "(FORMAT parquet)"),
                ("json", "json", ""),
            ]
        )
        path = f"/tmp/fz7_copy_{fid}.{ext}"
        sel = f"SELECT {key} AS k, ({c1}) AS v, ({c2}) AS s FROM {table}{w}"
        if opts == "(FORMAT csv, HEADER false)" or "DELIMITER" in opts:
            # headerless re-scan uses DuckDB's column0..N names
            rescan = f"SELECT * FROM '{path}' ORDER BY 1, 3"
        else:
            rescan = f"SELECT k, v, s FROM '{path}' ORDER BY k, s"
        return [
            f"COPY ({sel}) TO '{path}' {opts}".rstrip(),
            rescan,
        ]
    if shape == 16:  # r12 v7: CTAS / VIEW lifetime — a view over a table
        # that is REPLACED underneath it (incl. the self-referencing
        # OR REPLACE, which must snapshot-then-swap), re-read after each
        c1 = rng.choice(cols["num"])
        tname = f"fz7_t{rng.randrange(1000)}"
        vname = f"fz7_v{rng.randrange(1000)}"
        op = rng.choice(["+ 7", "* 3", "- 1"])
        return [
            f"CREATE OR REPLACE TABLE {tname} AS "
            f"SELECT {key} AS k, ({c1}) AS x FROM {table}{w}",
            f"CREATE OR REPLACE VIEW {vname} AS "
            f"SELECT k, x {op} AS y FROM {tname}",
            f"SELECT k, y FROM {vname} ORDER BY k, y",
            # self-referencing replace: DuckDB snapshots the body first
            f"CREATE OR REPLACE TABLE {tname} AS "
            f"SELECT k, x {op} AS x FROM {tname}",
            f"SELECT k, y FROM {vname} ORDER BY k, y",
            f"DROP VIEW {vname}",
            f"DROP TABLE {tname}",
        ]
    if shape == 17:  # r12 v7: SUMMARIZE — the runner compares the stable
        # columns only (column_name, count, null_percentage, plus min/max
        # for non-composite types; quantiles/avg/approx_unique are
        # approximate and engine-specific by construction)
        src = rng.choice(
            [
                f"SELECT * FROM {table}{w}",
                f"SELECT {key} AS k, ({rng.choice(cols['num'])}) AS v "
                f"FROM {table}{w}",
            ]
        )
        return [f"SUMMARIZE {src}"]
    if shape == 18:  # r12 v7: BEGIN/COMMIT interleaved with PREPARE/MACRO
        # (COMMIT only: ROLLBACK-of-DDL is intentionally divergent — the
        # engine's txn markers are no-ops; pinned in
        # tests/test_path_scan_sniff.py).  A ROLLBACK variant wraps a
        # pure SELECT, which is safe on both.
        c1 = rng.choice(cols["num"])
        mname = f"fz7_m{rng.randrange(1000)}"
        pname = f"fz7_p{rng.randrange(1000)}"
        body1 = f"a {rng.choice(['+ 2', '* 2', '- 3'])}"
        body2 = f"a {rng.choice(['+ 10', '* 5'])}"
        lit = rng.choice(["0", "1", "2"])
        if rng.random() < 0.3:
            return [
                "BEGIN",
                f"SELECT count(*) AS c FROM {table}{w}",
                "ROLLBACK",
                f"SELECT count(*) AS c FROM {table}{w}",
            ]
        return [
            "BEGIN",
            f"CREATE OR REPLACE MACRO {mname}(a) AS ({body1})",
            f"PREPARE {pname} AS SELECT {key} AS k, {mname}({c1}) AS v "
            f"FROM {table} WHERE {key} <= $1 ORDER BY k",
            f"EXECUTE {pname}({lit})",
            "COMMIT",
            f"CREATE OR REPLACE MACRO {mname}(a) AS ({body2})",
            "BEGIN",
            f"EXECUTE {pname}({lit})",
            "COMMIT",
            f"DEALLOCATE {pname}",
            f"DROP MACRO {mname}",
        ]
    if shape == 11:  # r11 v6: PIVOT × PREPARE in one script — the pivot
        # materialized by CTAS and queried through a prepared statement
        # (column-ORDER-stable projection: dynamic pivot column order
        # differs between engines, so the prepared query aggregates);
        # the bare PIVOT statement re-checks value parity name-aware
        pcol = rng.choice(cols["str"])
        vcol = rng.choice(cols["num"])
        agg = rng.choice(["sum", "min", "max", "count"])
        tname = f"fz_pt{rng.randrange(1000)}"
        pname = f"fz_pq{rng.randrange(1000)}"
        lit = rng.choice(["0", "1", "-1"])
        return [
            f"CREATE OR REPLACE TABLE {tname} AS "
            f"PIVOT (SELECT {pcol} AS p, {vcol} AS v FROM {table}{w}) "
            f"ON p USING {agg}(v)",
            f"PIVOT (SELECT {pcol} AS p, {vcol} AS v FROM {table}{w}) "
            f"ON p USING {agg}(v)",
            f"PREPARE {pname} AS SELECT count(*) + $1 AS n FROM {tname}",
            f"EXECUTE {pname}({lit})",
            f"DEALLOCATE {pname}",
            f"DROP TABLE {tname}",
        ]
    if shape == 12:  # r11 v6: COLUMNS() expansion inside a PREPARE body
        # with the prepared param in the WHERE under it.  Patterns are
        # derived from the table's key so they always MATCH: a
        # no-match pattern diverges on error TIMING only (DuckDB binds
        # at PREPARE, this engine re-binds at EXECUTE — both raise the
        # same no-columns error, one statement apart), which r10 probed
        # and pinned; fuzzing it again each wave is pure noise.
        agg = rng.choice(["max", "min", "count"])
        pat = rng.choice([f"'{key}'", f"'{key[0]}.*'", "'.*'"])
        pname = f"fz_pc{rng.randrange(1000)}"
        cut = rng.choice(["0", "2", "100"])
        cond = f"{key} >= $1"
        return [
            f"PREPARE {pname} AS SELECT {agg}(COLUMNS({pat})) "
            f"FROM {table}{w} {'AND' if w else 'WHERE'} {cond}",
            f"EXECUTE {pname}({cut})",
            f"DEALLOCATE {pname}",
        ]
    if shape == 13:  # r11 v6: macro inside PIVOT — in the pivot source
        # SELECT always, and (50%) inside the USING aggregate too
        g = Gen(rng, {"num": ["a"]})
        body = g.num(rng.randrange(1, 3)).sql
        pcol = rng.choice(cols["str"])
        vcol = rng.choice(cols["num"])
        mname = f"fz_mp{rng.randrange(1000)}"
        if rng.random() < 0.5:
            piv = (f"PIVOT (SELECT {pcol} AS p, {mname}({vcol}) AS v "
                   f"FROM {table}{w}) ON p USING sum(v)")
        else:
            piv = (f"PIVOT (SELECT {pcol} AS p, {vcol} AS v "
                   f"FROM {table}{w}) ON p USING sum({mname}(v))")
        return [
            f"CREATE OR REPLACE MACRO {mname}(a) AS ({body})",
            piv,
            f"DROP MACRO {mname}",
        ]
    if shape == 14:  # r11 v6: window FRAME whose aggregand is a macro
        # over a dialect-rewritten numeric expression (// % etc.)
        g = Gen(rng, {"num": ["a"]})
        body = g.num(rng.randrange(1, 3)).sql
        c1 = rng.choice(cols["num"])
        mname = f"fz_mw{rng.randrange(1000)}"
        fn = rng.choice(["sum", "min", "max", "avg", "count"])
        frame = rng.choice(
            ["ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
             "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING",
             "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
             f"RANGE BETWEEN {rng.randrange(1, 5)} PRECEDING AND CURRENT ROW"]
        )
        return [
            f"CREATE OR REPLACE MACRO {mname}(a) AS ({body})",
            f"SELECT {key} AS k, {fn}({mname}({c1})) "
            f"OVER (ORDER BY {key} {frame}) AS wv "
            f"FROM {table}{w} ORDER BY k",
            f"DROP MACRO {mname}",
        ]
    if shape == 8:  # r10 v5: PREPARE body calls a macro; macro redefined
        # between EXECUTEs (DuckDB re-binds at EXECUTE — probed r10: the
        # redefinition IS visible, and EXECUTE after DROP MACRO errors)
        g = Gen(rng, {"num": ["a", "b"]})
        body1 = g.num(rng.randrange(1, 3)).sql
        body2 = g.num(rng.randrange(1, 3)).sql
        c1 = rng.choice(cols["num"])
        mname = f"fz_pm{rng.randrange(1000)}"
        pname = f"fz_pp{rng.randrange(1000)}"
        if rng.random() < 0.5:  # positional param feeds the macro arg
            body = (f"SELECT {key} AS k, {mname}({c1}, $1) AS v "
                    f"FROM {table}{w} ORDER BY k")
            call = f"EXECUTE {pname}({rng.choice(NUM_LITS[:8])})"
        else:  # named prepared param inside a named macro default arg
            body = (f"SELECT {key} AS k, {mname}({c1}, b := $m) + $n AS v "
                    f"FROM {table}{w} ORDER BY k")
            call = (f"EXECUTE {pname}(m := {rng.choice(NUM_LITS[:8])}, "
                    f"n := {rng.choice(NUM_LITS[:8])})")
        ddl = ("(a, b)" if "b :=" not in body else f"(a, b := {rng.choice(['1', '2'])})")
        return [
            f"CREATE OR REPLACE MACRO {mname}{ddl} AS ({body1})",
            f"PREPARE {pname} AS {body}",
            call,
            f"CREATE OR REPLACE MACRO {mname}{ddl} AS ({body2})",
            call,
            f"DEALLOCATE {pname}",
            f"DROP MACRO {mname}",
        ]
    if shape == 9:  # r10 v5: PREPARE over a view; view replaced between
        # EXECUTEs (DuckDB re-binds: the replacement is visible — probed)
        g = Gen(rng, {"num": cols["num"]})
        e1 = g.num(rng.randrange(1, 3)).sql
        e2 = g.num(rng.randrange(1, 3)).sql
        vname = f"fz_v{rng.randrange(1000)}"
        pname = f"fz_pv{rng.randrange(1000)}"
        lit = rng.choice(NUM_LITS[:8])
        return [
            f"CREATE OR REPLACE VIEW {vname} AS "
            f"SELECT {key} AS k, ({e1}) AS x FROM {table}{w}",
            f"PREPARE {pname} AS SELECT k, x + $1 AS v FROM {vname} "
            f"ORDER BY k LIMIT 20",
            f"EXECUTE {pname}({lit})",
            f"CREATE OR REPLACE VIEW {vname} AS "
            f"SELECT {key} AS k, ({e2}) AS x FROM {table}{w}",
            f"EXECUTE {pname}({lit})",
            f"DEALLOCATE {pname}",
            f"DROP VIEW {vname}",
        ]
    if shape == 10:  # r10 v5: prepared set-op chain, $1 reused per branch
        g = Gen(rng, {"num": cols["num"]})
        e1 = g.num(rng.randrange(1, 3)).sql
        e2 = g.num(rng.randrange(1, 3)).sql
        pname = f"fz_ps{rng.randrange(1000)}"
        setop = rng.choice(["UNION", "UNION ALL", "EXCEPT", "INTERSECT"])
        lit = rng.choice(NUM_LITS[:8])
        cut = rng.choice(["2", "5", "9"])
        w2 = (f" WHERE {base_filter} AND {key} < {cut}" if base_filter
              else f" WHERE {key} < {cut}")
        return [
            f"PREPARE {pname} AS "
            f"SELECT {key} AS k, ({e1}) + $1 AS v FROM {table}{w} "
            f"{setop} "
            f"SELECT {key} AS k, ({e2}) + $1 AS v FROM {table}{w2} "
            f"ORDER BY k, v",
            f"EXECUTE {pname}({lit})",
            f"DEALLOCATE {pname}",
        ]
    if shape == 6:  # r9: PREPARE → EXECUTE → re-PREPARE → EXECUTE → DEALLOCATE
        g = Gen(rng, {"num": cols["num"]})
        e1 = g.num(rng.randrange(1, 3)).sql
        e2 = g.num(rng.randrange(1, 3)).sql
        pname = f"fz_p{rng.randrange(1000)}"
        style = rng.randrange(3)
        if style == 0:  # $1 positional (reused)
            body = f"SELECT {key} AS k, ({e1}) + $1 + $1 AS v FROM {table}{w} ORDER BY k"
            call = f"EXECUTE {pname}({rng.choice(NUM_LITS[:8])})"
        elif style == 1:  # named
            body = f"SELECT {key} AS k, ({e1}) * $m AS v FROM {table}{w} ORDER BY k"
            call = f"EXECUTE {pname}(m := {rng.choice(['2', '3', '1+1'])})"
        else:  # ? positional pair
            body = f"SELECT {key} AS k, ({e1}) + ? - ? AS v FROM {table}{w} ORDER BY k"
            call = (
                f"EXECUTE {pname}({rng.choice(NUM_LITS[:8])}, "
                f"{rng.choice(NUM_LITS[:8])})"
            )
        # no BEGIN/COMMIT here: run_statement_seq already wraps each
        # sequence in a transaction on the shared DuckDB connection, and
        # DuckDB errors on nested BEGIN (marker parity is unit-tested in
        # tests/test_prepared_statements.py)
        return [
            f"PREPARE {pname} AS {body}",
            call,
            f"PREPARE {pname} AS SELECT {key} AS k, ({e2}) AS v "
            f"FROM {table}{w} ORDER BY k",
            f"EXECUTE {pname}",
            f"DEALLOCATE {pname}",
        ]
    if shape == 7:  # r9: prepared LIMIT / WHERE parameter over a table
        pname = f"fz_q{rng.randrange(1000)}"
        c1 = rng.choice(cols["num"])
        lim = rng.choice(["1", "3", "7"])
        return [
            f"PREPARE {pname} AS SELECT {key} AS k, {c1} AS v FROM {table}{w} "
            f"{'AND' if w else 'WHERE'} {c1} >= $1 ORDER BY k LIMIT $2",
            f"EXECUTE {pname}(0, {lim})",
            f"DEALLOCATE PREPARE {pname}",
        ]
    if shape < 3:  # scalar macro: define → use → redefine → use → drop
        g = Gen(rng, {"num": ["a", "b"]})
        body1 = g.num(rng.randrange(1, 3)).sql
        body2 = g.num(rng.randrange(1, 3)).sql
        c1, c2 = rng.sample(cols["num"], 2) if len(cols["num"]) >= 2 else (
            cols["num"][0], cols["num"][0])
        mname = f"fz_m{rng.randrange(1000)}"
        return [
            f"CREATE OR REPLACE MACRO {mname}(a, b) AS ({body1})",
            f"SELECT {key} AS k, {mname}({c1}, {c2}) AS v "
            f"FROM {table}{w} ORDER BY k",
            f"CREATE OR REPLACE MACRO {mname}(a, b) AS ({body2})",
            f"SELECT {key} AS k, {mname}({c2}, 7) AS v "
            f"FROM {table}{w} ORDER BY k",
            f"DROP MACRO {mname}",
        ]
    if shape == 3:  # macro with a default parameter
        g = Gen(rng, {"num": ["a", "b"]})
        body = g.num(rng.randrange(1, 3)).sql
        c1 = rng.choice(cols["num"])
        d = rng.choice(["1", "2", "10"])
        mname = f"fz_d{rng.randrange(1000)}"
        return [
            f"CREATE OR REPLACE MACRO {mname}(a, b := {d}) AS ({body})",
            f"SELECT {key} AS k, {mname}({c1}) AS v1, "
            f"{mname}({c1}, b := 3) AS v2 FROM {table}{w} ORDER BY k",
            f"DROP MACRO {mname}",
        ]
    if shape == 4:  # macro calling a macro
        g = Gen(rng, {"num": ["x"]})
        inner_body = g.num(rng.randrange(1, 3)).sql
        c1 = rng.choice(cols["num"])
        op = rng.choice(["+", "*", "-"])
        return [
            f"CREATE OR REPLACE MACRO fz_inner(x) AS ({inner_body})",
            f"CREATE OR REPLACE MACRO fz_outer(x) AS (fz_inner(x) {op} 2)",
            f"SELECT {key} AS k, fz_outer({c1}) AS v FROM {table}{w} ORDER BY k",
            "DROP MACRO fz_outer",
            "DROP MACRO fz_inner",
        ]
    if shape == 5 and rng.random() < 0.5:  # TABLE macro in FROM position
        g = Gen(rng, {"num": cols["num"]})
        expr = g.num(rng.randrange(1, 3)).sql
        lim = rng.choice(["5", "17", "100"])
        tname = f"fz_t{rng.randrange(1000)}"
        return [
            f"CREATE OR REPLACE MACRO {tname}(lim) AS TABLE "
            f"SELECT {key} AS k, ({expr}) AS v FROM {table}{w} "
            f"ORDER BY k LIMIT lim",
            f"SELECT k, v FROM {tname}({lim}) ORDER BY k",
            f"SELECT count(*) AS n FROM {tname}({lim})",
            f"DROP MACRO TABLE {tname}",
        ]
    if shape == 4 and rng.random() < 0.4:  # CTAS / INSERT round-trip
        g = Gen(rng, {"num": cols["num"]})
        e1 = g.num(rng.randrange(1, 3)).sql
        tname = f"fz_ct{rng.randrange(1000)}"
        lim = rng.choice(["5", "20"])
        return [
            f"CREATE OR REPLACE TABLE {tname} AS "
            f"SELECT {key} AS k, ({e1}) AS v FROM {table}{w} "
            f"ORDER BY k LIMIT {lim}",
            f"INSERT INTO {tname} SELECT {key} + 1000000 AS k, ({e1}) AS v "
            f"FROM {table}{w} ORDER BY {key} LIMIT 3",
            f"SELECT k, v FROM {tname} ORDER BY k",
            f"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM {tname}",
            f"DROP TABLE {tname}",
        ]
    if shape == 5 and rng.random() < 0.5:  # COLUMNS() expression template
        agg = rng.choice(["max", "min", "count", "sum"])
        if rng.random() < 0.5:
            pat = rng.choice(["'.*key'", "'.*'", f"'{key[0]}_.*'"])
            sel = f"{agg}(COLUMNS({pat}))"
        else:
            lam = rng.choice(["c -> c LIKE '%key'", "c -> c SIMILAR TO '.*key'"])
            sel = f"{agg}(COLUMNS({lam}))"
        return [f"SELECT {sel} FROM {table}{w}"]
    # PIVOT / UNPIVOT statements over a deterministic rollup
    if rng.random() < 0.35 and len(cols["num"]) >= 2:
        c1, c2 = rng.sample(cols["num"], 2)
        return [
            f"UNPIVOT (SELECT {key} AS k, {c1}, {c2} FROM {table}{w}) "
            f"ON {c1}, {c2} INTO NAME m VALUE val ORDER BY k, m",
        ]
    pcol = rng.choice(cols["str"])
    vcol = rng.choice(cols["num"])
    agg = rng.choice(["sum", "min", "max", "count"])
    return [
        f"PIVOT (SELECT {pcol} AS p, {vcol} AS v FROM {table}{w}) "
        f"ON p USING {agg}(v)",
    ]


def run_statement_seq(differ: "Differ", stmts: list[str]):
    """Execute the sequence on both engines; compare each row-yielding
    statement.  Returns ('ok'|cls, failing_stmt, detail)."""
    # v7 txn shapes carry their own BEGIN/COMMIT — a wrapper BEGIN would
    # make DuckDB raise nested-transaction errors the engine never sees.
    wrap = not any(
        s.lstrip().upper().startswith(("BEGIN", "COMMIT", "ROLLBACK"))
        for s in stmts
    )
    if wrap:
        differ.con.execute("BEGIN")  # isolate macro namespace per seed
    try:
        for s in stmts:
            up = s.lstrip().upper()
            is_ddl = up.startswith(("CREATE", "DROP"))
            try:
                s_rows = [tuple(r) for r in differ.engine.sql(s).collect()]
                s_err = None
            except Exception as ex:  # noqa: BLE001
                s_rows, s_err = None, f"{type(ex).__name__}: {str(ex)[:200]}"
            try:
                d_rows = differ.con.execute(s).fetchall()
                d_err = None
            except Exception as ex:  # noqa: BLE001
                d_rows, d_err = None, f"{type(ex).__name__}: {str(ex)[:200]}"
            if s_err and d_err:
                return ("both_error", s, s_err)
            if s_err:
                return ("spark_error_only", s, s_err)
            if d_err:
                return ("duckdb_error_only", s, d_err)
            if is_ddl:
                continue  # engine returns a dummy Count row; DuckDB none
            if up.startswith("SUMMARIZE"):
                # compare the STABLE profile columns only: quantiles /
                # avg / std / approx_unique are approximate and
                # engine-specific; min/max render composites differently
                # — compared only for non-composite duck types (v7)
                s_cols = [c.lower() for c in differ.engine.sql(s).columns]
                d_desc = differ.con.execute(s).description
                d_cols = [c[0].lower() for c in d_desc]
                stable = ["column_name", "count", "null_percentage"]
                if s_cols != d_cols:
                    return ("value_mismatch", s,
                            f"summarize columns {s_cols} vs {d_cols}")
                if len(s_rows) != len(d_rows):
                    return ("value_mismatch", s,
                            f"summarize rowcount {len(s_rows)} vs {len(d_rows)}")
                ixs = {c: s_cols.index(c) for c in stable + ["column_type", "min", "max"]}
                def _sumcell_eq(a, b):
                    # min/max are STRING renderings of typed values; a
                    # numeric column whose engine type legitimately
                    # widened (list_sum: Spark BIGINT-array aggregate is
                    # DOUBLE, DuckDB HUGEINT — intentional-difference
                    # class) renders '3.0' vs '3'.  Compare numerically
                    # when both parse (seed 110606).
                    if cells_equal(a, b):
                        return True
                    try:
                        return float(a) == float(b)
                    except (TypeError, ValueError):
                        return False

                for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
                    cmp_cols = list(stable)
                    if not any(tok in str(dr[ixs["column_type"]])
                               for tok in ("(", "[")):
                        cmp_cols += ["min", "max"]
                    for c in cmp_cols:
                        eq = _sumcell_eq if c in ("min", "max") else cells_equal
                        if not eq(sr[ixs[c]], dr[ixs[c]]):
                            return ("value_mismatch", s,
                                    f"row {i} {c}: spark={sr[ixs[c]]!r} "
                                    f"duckdb={dr[ixs[c]]!r}")
                continue
            if up.startswith("PIVOT"):
                # dynamic column ORDER differs (DuckDB sorts pivot columns);
                # compare as name->row-set maps
                s_cols = differ.engine.sql(s).columns
                d_cols = [c[0] for c in differ.con.execute(s).description]
                if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
                    return ("value_mismatch", s,
                            f"pivot columns {s_cols} vs {d_cols}")
                s_map = sorted(
                    sorted(zip(map(str.lower, s_cols), r)) for r in s_rows
                )
                d_map = sorted(
                    sorted(zip(map(str.lower, d_cols), r)) for r in d_rows
                )
                for sr, dr in zip(s_map, d_map):
                    for (sc, sv), (dc, dv) in zip(sr, dr):
                        if sc != dc or not cells_equal(sv, dv):
                            return ("value_mismatch", s,
                                    f"{sc}={sv!r} vs {dc}={dv!r}")
                continue
            if len(s_rows) != len(d_rows):
                return ("value_mismatch", s,
                        f"rowcount {len(s_rows)} vs {len(d_rows)}")
            for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
                for j, (sv, dv) in enumerate(zip(sr, dr)):
                    if not cells_equal(sv, dv):
                        return ("value_mismatch", s,
                                f"row {i} col {j}: spark={sv!r} duckdb={dv!r}")
        return ("ok", None, None)
    finally:
        if wrap:
            differ.con.execute("ROLLBACK")
        else:
            # unwrapped (txn shape): close any transaction a mid-seq
            # failure left open; the shape DROPs its own objects
            try:
                differ.con.execute("ROLLBACK")
            except Exception:
                pass


# ── execution + comparison ───────────────────────────────────────────────


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    # struct values: Spark yields Row, DuckDB a dict — compare as sorted
    # (key, normalized value) tuples (r9 nested fixture)
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        # DuckDB's client renders a MAP as {'key': [...], 'value': [...]};
        # Spark renders it as a plain dict — unify to sorted pairs.  (A
        # genuine struct with exactly fields key/value of equal-length
        # lists would collide; the fixtures have none.)
        if (
            set(v.keys()) == {"key", "value"}
            and isinstance(v["key"], list)
            and isinstance(v["value"], list)
            and len(v["key"]) == len(v["value"])
        ):
            v = dict(zip(v["key"], v["value"]))
        return tuple(
            sorted(((k, _norm(x)) for k, x in v.items()), key=lambda p: str(p[0]))
        )
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def cells_equal(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if a is None or b is None:
        return a is b
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        if math.isinf(fa) or math.isinf(fb):
            return fa == fb
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


class Differ:
    def __init__(self, engine, con):
        self.engine = engine
        self.con = con

    def run(self, sql: str):
        try:
            s_rows = [tuple(r) for r in self.engine.sql(sql).collect()]
            s_err = None
        except Exception as ex:  # noqa: BLE001
            s_rows, s_err = None, f"{type(ex).__name__}: {str(ex)[:200]}"
        try:
            d_rows = self.con.execute(sql).fetchall()
            d_err = None
        except Exception as ex:  # noqa: BLE001
            d_rows, d_err = None, f"{type(ex).__name__}: {str(ex)[:200]}"
        if s_err and d_err:
            return ("both_error", s_err, d_err)
        if s_err:
            return ("spark_error_only", s_err, None)
        if d_err:
            return ("duckdb_error_only", None, d_err)
        if len(s_rows) != len(d_rows):
            return ("value_mismatch", f"rowcount {len(s_rows)} vs {len(d_rows)}", None)
        for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
            if len(sr) != len(dr):
                return ("value_mismatch", f"colcount row {i}", None)
            for j, (sv, dv) in enumerate(zip(sr, dr)):
                if not cells_equal(sv, dv):
                    return (
                        "value_mismatch",
                        f"row {i} col {j}: spark={sv!r} duckdb={dv!r}",
                        None,
                    )
        return ("ok", None, None)


def descendants(e: E, typ: str):
    out = []
    stack = list(e.kids)
    while stack:
        k = stack.pop()
        if k.typ == typ:
            out.append(k)
        stack.extend(k.kids)
    return out


def shrink(differ: Differ, render, exprs):
    """Minimize a failing query: smallest failing column subset, then
    greedy subtree replacement on each remaining expression."""
    def fails(es):
        cls, *_ = differ.run(render(es))
        return cls in ("value_mismatch", "spark_error_only")

    # per-column isolation
    for e in exprs:
        if fails([e]):
            exprs = [e]
            break
    # greedy subtree replacement
    changed = True
    while changed:
        changed = False
        for i, e in enumerate(exprs):
            for sub in descendants(e, e.typ):
                trial = exprs[:i] + [sub] + exprs[i + 1 :]
                if fails(trial):
                    exprs = trial
                    changed = True
                    break
            if changed:
                break
    return render(exprs), differ.run(render(exprs))


# Divergences documented in dialect.py's KNOWN INTENTIONAL DIFFERENCES
# list (each pinned in tests/test_dialect_residuals.py) — matched against
# the minimized reproduction and tallied separately, not failed.
INTENTIONAL = [
    # IGNORECASE: the mutator case-flips tokens, and a flipped spelling
    # must still classify (wave seed 3112: `- LIST_UNIQUE(...)`)
    # #9 UBIGINT negation wrap — any UBIGINT-returning function (DuckDB
    # cardinality/list_unique are UBIGINT; seed 3072: -cardinality(mp)
    # is 18446744073709551614 there)
    re.compile(r"-\s*\(?\s*(list_unique|cardinality)\s*\(", re.IGNORECASE),
    # #3: list_sum/list_avg expand to a DOUBLE-typed aggregate, so a
    # downstream // divides plainly where DuckDB truncates integrally
    re.compile(r"list_(sum|avg)\s*\(.*//|//.*list_(sum|avg)\s*\(", re.DOTALL | re.IGNORECASE),
    # #11: zero-width pattern with 'g' — Java replaces the empty match
    # adjacent to a previous match, RE2 skips it
    re.compile(r"regexp_replace\s*\([^;]*'x\*'[^;]*'g'", re.IGNORECASE),
    # #12: a // result stringified mid-query (array_to_string over a
    # lambda containing //, or || of a // result) renders '3.0' for
    # DuckDB's INTEGER '3' — the dispatch surfaces DOUBLE in both
    # branches; top-level cells render identically via the formatter
    re.compile(r"array_to_string\s*\([^;]*//|\|\|[^;]*//|//[^;]*\|\|", re.DOTALL | re.IGNORECASE),
    # #16: DuckDB 1.0.0 folds count(f(date_trunc(..))) to count(*) even
    # when the nullable input yields NULL values (its optimizer bug —
    # probed; we count correctly)
    re.compile(r"count\s*\([^;()]*\(?[^;()]*date_trunc", re.IGNORECASE),
    # #17/#18: JVM full Unicode case mappings vs DuckDB simple mappings —
    # only the unicode-heavy column exercises them
    # (nested2's unicode carriers sm.t and ...[1].q included — r10 soak
    # seed 65020: lower('ẞ İ') via sm.t; nested3 adds ut and sll.t, r11)
    re.compile(
        r"\b(upper|ucase|lower|lcase|initcap)\s*\([^;]*"
        r"(\bus\b|\but\b|(sm|sll)\s*\.\s*t\b|\.\s*q\b)",
        re.IGNORECASE,
    ),
    # #18: codepoint vs grapheme reverse on combining sequences
    re.compile(
        r"\breverse\s*\([^;]*(\bus\b|\but\b|(sm|sll)\s*\.\s*t\b|\.\s*q\b)",
        re.IGNORECASE,
    ),
    # #19: map subscript returns the VALUE here, a one-element LIST there
    re.compile(r"\bmp\s*\[", re.IGNORECASE),
    # #20: DuckDB 1.0.0 ranking windows over a LIST-typed partition key
    # degrade to per-row partitions (its bug; we partition correctly)
    re.compile(
        r"partition\s+by\s*\(?[^;)]*(element_at\s*\(|\bls\b|\bmp\b|\bsl\b"
        r"|list_\w+\s*\(|map_keys|map_values|\[)",
        re.IGNORECASE,
    ),
    # #21: NULL elements inside ARRAY values sort smallest here, largest
    # there — only reachable when an ORDER BY key IS a list column (or
    # ALL ties into one) on the nested fixture (mutation seed 417)
    re.compile(
        r"(?is)\bnested_parquet\b.*\border\s+by\s+(all|ls)\b"
        r"|\border\s+by\s+(all|ls)\b.*\bnested_parquet\b"
    ),
    # #21 (same root, r10 surface): min/max over NESTED columns whose
    # values contain NULL elements/fields — reachable through
    # min/max(COLUMNS(..)) on the nested fixtures now that map columns
    # aggregate via the sorted-entries surrogate (seeds 6540/6752 made
    # the map case WORK; the list/struct columns then tie-break on
    # element-level null order, which Spark fixes smallest / DuckDB
    # largest)
    re.compile(
        r"(?is)\bnested[23]?_parquet\b.*\b(min|max)\s*\(\s*columns"
        r"|\b(min|max)\s*\(\s*columns.*\bnested[23]?_parquet\b"
    ),
]


# A Spark error of these types means the JVM is gone: every later seed
# would read ``spark_error_only`` without saying anything about the shim.
_JVM_GONE = re.compile(r"\b(?:Py4JNetworkError|ConnectionRefusedError)\b")


def _stop_if_jvm_gone(seed: int, detail) -> bool:
    if not (detail and _JVM_GONE.search(detail)):
        return False
    print(f"STOPPED at seed {seed}: the Spark JVM is unreachable ({detail[:120]})")
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=200)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--one", type=int, default=None)
    ap.add_argument("--no-shrink", action="store_true")
    ap.add_argument(
        "--mutate", action="store_true",
        help="inject comments/whitespace/keyword-case noise into each "
        "generated query (semantically neutral in both engines)")
    ap.add_argument(
        "--statements", action="store_true",
        help="fuzz statement SEQUENCES (CREATE/DROP MACRO, PIVOT) through "
        "the engine routing layer instead of single SELECTs")
    args = ap.parse_args()

    import duckdb

    sys.path.insert(0, ROOT)
    from parquet_query_spark.engine import Engine

    engine = Engine.open(SF_DIR)
    con = duckdb.connect()
    data = os.path.join(ROOT, "tests", "data")
    nulls_path = os.path.join(data, "fuzz_nulls.parquet")
    nested_path = os.path.join(data, "fuzz_nested.parquet")
    nested2_path = os.path.join(data, "fuzz_nested2.parquet")
    nested3_path = os.path.join(data, "fuzz_nested3.parquet")
    for t in TABLES:
        if t == "nulls_parquet":
            path = nulls_path
        elif t == "nested_parquet":
            path = nested_path
        elif t == "nested2_parquet":
            path = nested2_path
        elif t == "nested3_parquet":
            path = nested3_path
        else:
            path = f"{SF_DIR}/{t.rsplit('_', 1)[0]}.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    engine.spark.read.parquet(nulls_path).createOrReplaceTempView("nulls_parquet")
    engine.spark.read.parquet(nested_path).createOrReplaceTempView("nested_parquet")
    engine.spark.read.parquet(nested2_path).createOrReplaceTempView("nested2_parquet")
    engine.spark.read.parquet(nested3_path).createOrReplaceTempView("nested3_parquet")
    differ = Differ(engine, con)

    seeds = [args.one] if args.one is not None else range(args.start, args.start + args.seeds)
    counts = {"ok": 0, "both_error": 0, "duckdb_error_only": 0,
              "spark_error_only": 0, "value_mismatch": 0}
    failures = []
    stopped = False
    for seed in seeds:
        rng = random.Random(seed)
        if args.statements:
            stmts = gen_statement_seq(rng)
            if args.mutate:
                mrng = random.Random(seed * 1000003 + 17)
                stmts = [mutate(s, mrng) for s in stmts]
            cls, stmt, detail = run_statement_seq(differ, stmts)
            if _stop_if_jvm_gone(seed, detail):
                stopped = True
                break
            if cls in ("value_mismatch", "spark_error_only"):
                # intentional-difference triage over the comment-stripped
                # sequence (macro bodies can host e.g. #9 UBIGINT negation)
                from parquet_query_spark.workbench.dialect_core import (
                    _unquote_function_names,
                    strip_comments,
                )

                # unquote too: a mutation-double-quoted "list_sum" must
                # still match the #3 pattern (seed 3031)
                joined = _unquote_function_names(strip_comments("; ".join(stmts)))
                if any(p.search(joined) for p in INTENTIONAL):
                    counts["intentional"] = counts.get("intentional", 0) + 1
                    continue
            counts[cls] += 1
            if args.one is not None or cls in ("value_mismatch", "spark_error_only"):
                print(f"[seed {seed}] {cls}: {stmt}\n    detail: {detail}")
                if cls in ("value_mismatch", "spark_error_only"):
                    failures.append((seed, cls, "; ".join(stmts), detail, None))
            if args.one is None and (seed - args.start + 1) % 100 == 0:
                print(f"... {seed - args.start + 1} seeds: {counts}")
            continue
        render, exprs = gen_query(rng)
        if args.mutate:
            base_render = render

            def render(es, _base=base_render, _mseed=seed * 1000003 + 17):
                return mutate(_base(es), random.Random(_mseed))

        sql = render(exprs)
        cls, a, b = differ.run(sql)
        if _stop_if_jvm_gone(seed, a):
            stopped = True
            break
        counts[cls] += 1
        if args.one is not None:
            print(f"seed {seed}: {cls}\n  {sql}\n  spark: {a}\n  duckdb: {b}")
        if cls in ("value_mismatch", "spark_error_only"):
            if args.no_shrink:
                mini, verdict = sql, (cls, a, b)
            else:
                mini, verdict = shrink(differ, render, exprs)
            # match against comment-stripped text: a mutated comment
            # between the operator and its operand must not hide a
            # documented intentional difference (wave-22 seed 6189)
            from parquet_query_spark.workbench.dialect_core import (
                _unquote_function_names,
                strip_comments,
            )

            if any(
                p.search(_unquote_function_names(strip_comments(mini)))
                for p in INTENTIONAL
            ):
                counts[cls] -= 1
                counts["intentional"] = counts.get("intentional", 0) + 1
                continue
            failures.append((seed, verdict[0], mini, verdict[1], verdict[2]))
            print(f"[seed {seed}] {verdict[0]}: {mini}\n    detail: {verdict[1] or verdict[2]}")
        elif cls == "duckdb_error_only" and args.one is None:
            pass  # leniency, not a bug; tallied in counts
        if args.one is None and (seed - args.start + 1) % 100 == 0:
            print(f"... {seed - args.start + 1} seeds: {counts}")
    print(f"DONE {counts}")
    for seed, cls, mini, a, b in failures:
        print(f"FAIL seed={seed} class={cls}\n  {mini}\n  {a or b}")
    return 2 if stopped else 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
