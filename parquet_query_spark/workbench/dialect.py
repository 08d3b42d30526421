"""DuckDB-dialect shim for the pass-through SQL tier.

The reference product forwards user SQL to DuckDB untouched
(``/root/reference/src/duckdb.ts:46-49``), so DuckDB-dialect conveniences
"just work" there.  ``Engine.run`` hands the same text to Spark SQL; this
module closes the dialect gap for the constructs a DuckDB-habituated user
hits first:

- ``GROUP BY ALL`` / ``ORDER BY ALL`` — **native** in Spark 4.x, no
  rewrite needed (pinned by tests so a regression would surface).
- ``SELECT * EXCLUDE (col, ...)`` — rewritten to Spark's native
  ``* EXCEPT (col, ...)``.
- ``QUALIFY <pred>`` — Spark has no QUALIFY; the predicate is appended
  to the select list as a ``__qualify`` column (window functions are
  legal there, and Spark's lateral column aliases let the predicate
  reference select-list aliases like DuckDB does), the query is wrapped,
  and the outer query filters on it and drops it with ``* EXCEPT``.
- ``strftime(ts, '%Y-%m-%d')`` / ``strptime(s, '%Y-%m-%d')`` — rewritten
  to ``date_format(ts, 'yyyy-MM-dd')`` / ``to_timestamp(s, 'yyyy-MM-dd')``
  with a C-to-Java pattern translation (letter literals quoted per Spark
  datetime-pattern rules).
- ``ASOF [LEFT] JOIN`` — rewritten to an equi-join against a LEAD/LAG
  validity window (strictly scoped; unsupported forms raise
  ``AsofRewriteError`` rather than risk wrong results).
- ``USING SAMPLE`` → ``TABLESAMPLE``; DuckDB-spelled function names
  (``string_split``, ``list_*``, ``list``, ``regexp_matches``,
  ``epoch_ms``/``epoch_us``, ``arg_min/arg_max``, vector-math macros) →
  their Spark equivalents.
- ``FROM``-first statements (``FROM t`` / ``FROM t SELECT ...``, per
  set-operation branch) and ``SELECT DISTINCT ON (keys) ...`` (ranked-
  window rewrite with hidden order columns).
- Bracket syntax: ``[..]`` list literals, ``[expr FOR x IN l IF p]``
  comprehensions, 1-based indexing ``l[i]`` / slicing ``l[a:b]`` on
  identifier and call bases (Spark subscripts are 0-based, so indexes
  are ALWAYS rewritten to ``try_element_at`` — leaving them would be
  silently off by one); ``struct_pack(a := 1)`` → ``named_struct``.
- Function chaining ``expr.fn(args)`` → ``fn(expr, args)`` (leftmost-
  first, subscript-aware; runs before the bracket pass so ``[i]`` stays
  glued to its base).  DuckDB's polymorphic ``len`` keeps its string
  reading in the primary text; when Spark's analyzer reports a ``len``
  over an ARRAY or MAP, ``analyze_dialect`` retries with every ``len``
  read as ``size``.  A subscript base Spark types STRING is retried with
  DuckDB's string reading the same way (``analyze_dialect``).
- ``INSERT INTO t BY NAME <query>`` (name-matched column list, NULL
  fill — ``workbench/set_ops.py``); ``USING SAMPLE`` method forms
  (``reservoir(100 ROWS)``, ``10% (system, seed)``) with DuckDB's
  per-method unit defaults; bare ``VARCHAR`` → ``STRING``.
- Operator/literal pack: ``$$...$$`` dollar strings, ``1_000_000``
  underscores, ``//`` → ``div``, ``^``/``**`` → ``power`` (Spark's ``^``
  is XOR — a silent wrong answer otherwise), ``^@`` → ``startswith``,
  ``[NOT] SIMILAR TO`` → anchored RLIKE, ``{'k': v}`` struct / ``MAP
  {...}`` literals, and FROM-position ``generate_series``/``range``
  table functions with DuckDB's column names and bound/empty/error
  behavior (each semantic pinned by an empirical probe; see the pack's
  section comment).
- **Literal backslashes doubled** (innermost pass): DuckDB reads
  ``'\\d+'`` raw, Spark C-unescapes it to ``d+`` — without the pass
  every user regex silently diverges.
- JSON: ``->`` / ``->>`` operators (lambda-arrow-aware via a HOF-call
  guard), ``::JSON`` casts, ``json_extract``/``json_extract_string``/
  ``json_value`` (path ``$``-normalization), ``json_valid``,
  ``json_keys``; aggregates: ordered ``string_agg``/``listagg`` →
  ``WITHIN GROUP``, ``quantile_disc``, sample-corrected ``skewness``/
  ``kurtosis`` (verified bias formulas); regex: DuckDB group-0
  defaults, ``'g'``/``'i'`` option strings, ``regexp_full_match``,
  ``regexp_split_to_array``, ``regexp_escape``; ``struct_extract``.
- Parity-sweep renames/macros (each probed on both engines): string
  predicates (``starts_with``/``ends_with``/``strpos``), hashes
  (``sha256``/``to_base``/``to_hex``/``from_hex``), date idioms
  (``dayname``/``monthname``/``isodow``/``yearweek``/``week``,
  boundary-crossing ``date_diff`` vs full-unit ``date_sub``,
  interval ``date_add``), ``log`` → ``log10`` (DuckDB's reading — the
  ln reading would be silently wrong), 2-arg ``trim``/``ltrim``/
  ``rtrim``, numeric ``trunc``/``isfinite``/``isinf``, and the list
  family (``list_sum``/``list_avg``/``list_aggregate``/``list_reduce``/
  ``list_prepend``/``list_any_value``/``list_count``/
  ``list_reverse_sort``/``list_position``/``list_zip``, scalar
  ``range``/``generate_series`` lists).
- ``read_parquet('f')`` / ``read_csv`` / ``read_json`` single-argument
  table functions → path literals (B4 machinery resolves them);
  ``DESCRIBE SELECT/FROM`` → ``DESCRIBE QUERY``; the ``UNPIVOT src ON
  cols INTO NAME n VALUE v`` statement form → Spark's relational
  UNPIVOT.  (``COPY ... TO`` executes in ``workbench/copy_to.py``;
  PIVOT/SUMMARIZE/COLUMNS dispatch schema-aware in ``Engine.sql``.)

Every rewrite is lexer-aware so occurrences inside strings, identifiers,
or comments are never touched: one memoized lexer,
``dialect_core._lex``, knows ``'…'`` strings, ``"…"`` and backtick
identifiers (doubled-delimiter escapes), ``$tag$…$tag$`` strings and
``--`` / ``/* */`` comments, and every pass — like
``statements.rewrite_path_tables`` — reads its spans.  These are not the
A6 splitter's rules (``statements._lex_segments`` knows neither backticks
nor dollar strings, as in the reference).

Every pass that rewrites calls by name (read functions, the ops pack's
FROM-position series, macros, renames, strftime/strptime, the ducktype
casts, ``concat``, and ``CREATE MACRO`` expansion in ``macros.py``) is a
handler table for one walker, ``dialect_core._rewrite_calls``: one
right-to-left pass over the unqualified code call sites, each call's
arguments split from the current text so inner calls are rewritten
first, and a handler's output never walked again.

Every pass that rewrites an infix or postfix operator (the dot-chain
``.fn(args)``, the JSON arrows, ``^@``, ``^``/``**``, SIMILAR TO, ``~``,
GLOB, list ``||`` chains, ``::<int>`` casts, and ``/``, ``%`` and the
``//`` chain) is likewise a handler table for one walker,
``dialect_core._rewrite_operators``: one forward parse that reads every
operand by DuckDB's precedence (one table, ``dialect_core._BINARY``), so
a window or FILTER tail, a ``CASE … END`` or a subquery is an operand
for every pass alike.  Operands reach their handler already rewritten,
a chain handler gets its whole same-level chain, and a handler's output
is never walked again.

- Text normalization pack (r8, mutation-fuzz driven): comments are
  STRIPPED once at the ``Engine.sql`` funnel (``strip_comments`` —
  string- and dollar-quote-aware), because the operand-matching passes
  tolerate only whitespace between tokens (a comment after ``^`` left it
  as Spark XOR: silent wrong answer); double-quoted identifiers are
  DuckDB/Postgres identifiers, never strings —
  ``spark.sql.ansi.doubleQuotedIdentifiers`` handles resolution, and
  lowercase simple ones normalize to bare text
  (``_unquote_function_names``) so every operand regex still fires;
  named-window references case-fold to the defined spelling
  (``_rewrite_named_window_case`` — Spark matches ``OVER w`` to
  ``WINDOW W AS`` by exact text, DuckDB folds case).

- Division/NULL pack (r8, probed): ``/`` → ``try_divide`` with the
  dividend cast to DOUBLE (DuckDB always divides as DOUBLE and returns
  NULL on zero), ``%`` → ``try_mod``, ``//`` chains → atomic per-stage
  ``typeof`` dispatch (truncate only while every chain leaf is integral,
  plain division otherwise — DuckDB's static-type polymorphism);
  ``concat`` → ``concat_ws('', ...)`` (DuckDB concat SKIPS NULLs).

Scope notes: one top-level QUALIFY per statement (QUALIFY inside a
subquery/CTE body is at paren depth > 0 and handled when that text is a
statement of its own — which is how the workbench runs nested text);
unknown ``%`` codes in strftime raise a clear error instead of silently
producing a wrong Java pattern.

KNOWN INTENTIONAL DIFFERENCES (each pinned in
``tests/test_dialect_residuals.py`` so a change in behavior surfaces;
this list is the triage ground truth for fuzz_dialect.py divergences):

1. RESOLVED (r8): a top-level trailing ``ORDER BY ALL`` is handled
   engine-side (``Engine._order_by_all_tail`` — the schema IS available
   there) with DuckDB's NULLS LAST default in both directions; only an
   ORDER BY ALL buried in a subquery still takes Spark's null order.
2. Integer ``//`` results beyond 2^53 round through the double path
   (the zero-guard routes integer division via ``try_divide``).
3. A ``//`` whose integral static type crosses a subquery/alias
   boundary is seen as DOUBLE by the outer ``//`` and divides plainly;
   same-expression composition dispatches correctly — the integrality
   condition recurses through CASE branches, the pass's own emitted
   dispatch shape, and top-level ``+ - * div`` arithmetic (wave-13 fuzz
   seed 20313), so only cross-query-block nesting retains the residual.  The list-aggregate
   macros (``list_sum``/``list_avg``) are in this class: their
   ``aggregate`` expansion is DOUBLE-typed, so DuckDB's integral
   ``list_sum(ints) // n`` truncation becomes plain division (fuzz r8
   seed 529).
4. ``INTERVAL / n`` is rejected (the DOUBLE dividend cast fails
   analysis) where DuckDB scales the interval — error over silently
   NULL rows.
5. ``concat`` with LIST arguments joins elements (Spark ``concat_ws``)
   where DuckDB stringifies the list (``'[1, 2]'``).
6. ``SUM`` over BIGINT that overflows int64 raises (ANSI) where DuckDB
   promotes to HUGEINT.
7. ROWS-unit ``USING SAMPLE`` draws from a different RNG stream than
   DuckDB's reservoir (row count honored, membership differs; seeded
   ``REPEATABLE`` cannot match cross-engine); an aliased table ref
   defeats the positional wrap and surfaces Spark's parse error rather
   than silently sampling a prefix.
8. Unsupported ``ASOF JOIN`` shapes raise ``AsofRewriteError`` rather
   than risk wrong results.
9. DuckDB's unsigned 64-bit results wrap on negation — ``-
   list_unique([1, 1])`` is 18446744073709551615 (UBIGINT arithmetic);
   Spark has no unsigned type, so counts stay signed and negate to -2
   (fuzz r8 seed 259).
10. ``hash(x)`` returns Spark's 32-bit Murmur3, not DuckDB's 64-bit
   internal hash — both are opaque; matching would require porting
   DuckDB's private mix function.  ``strip_accents`` is exact as of r9
   (full-Unicode NFD-drop-combining-marks pandas UDF, replacing the
   curated Latin-1 translate that let non-Latin marks pass through).
   ``signbit(-0.0)`` is false (Spark normalizes negative zero before
   the string-render probe); all non-zero signs and NaN agree.
11. Global-replace of a ZERO-WIDTH-capable pattern differs at empty
   matches adjacent to a previous match: Java (Spark) replaces them,
   RE2 (DuckDB) skips them — ``regexp_replace('xy', 'x*', '_', 'g')``
   is '__y_' here, '_y_' there (fuzz r8 seed 12654).  Non-empty
   matches and the unflagged first-only form agree.
12. A ``//`` embedded directly in a string context (``'x' || a // b``,
   or ``array_to_string`` over a lambda containing ``//`` — fuzz r8
   seed 31255) renders '7.0' where DuckDB prints '7' — the dispatch
   surfaces DOUBLE in both branches; at the result boundary the cell
   formatter renders whole doubles like DuckDB's INTEGER, so only
   mid-query stringification shows the difference.
13. ``levenshtein``/``jaccard``/``hamming`` count CODEPOINTS (Spark
   builtins / set macros) where DuckDB counts UTF-8 BYTES —
   ``levenshtein('café', 'cafe')`` is 1 here, 2 there; identical for
   ASCII.  (``hamming`` errors in DuckDB on unequal byte lengths even
   when codepoint lengths match.)  The separately registered
   ``damerau_levenshtein`` / ``jaro*`` UDFs ARE byte-exact.
14. Named macro arguments bind case-INSENSITIVELY here; DuckDB binds
   them by the exact definition spelling and SILENTLY IGNORES a
   mismatched-case named argument, keeping the default (probed:
   ``CREATE MACRO m(a, b := 1) ...; m(5, B := 3)`` uses b = 1 in DuckDB,
   b = 3 here).  Honoring the user's argument beats replicating a
   silent drop.  Macro NAMES and body identifier references fold case
   in both engines.
15. A comma-join ``LATERAL (SELECT agg(..) FROM .. WHERE <correlated>)``
   whose correlated input is EMPTY for some outer row: the ungrouped
   aggregate yields one NULL row, so the outer row survives here (SQL
   standard / Postgres semantics); DuckDB DROPS the outer row — its
   decorrelation rewrites the aggregate into a grouped join, the
   classic "COUNT bug" (probed: ``(VALUES (1),(20)) t(x), LATERAL
   (SELECT max(y) FROM (VALUES (10)) s(y) WHERE y < t.x)`` returns one
   row there, two here).  Keeping the standard behavior beats
   replicating a decorrelation artifact.
16. ``count(date_trunc(part, nullable_ts))`` (and any count over a
   function OF date_trunc) counts correctly here; the bundled DuckDB
   1.0.0 counts EVERY row — its optimizer folds the count(expr) to
   count(*) even though the per-row values render NULL (probed:
   the values are NULL, count says 120/120 where 100 rows are
   non-NULL).  A DuckDB-side bug we do not replicate; no catalog
   oracle uses the pattern (grepped).
17. ``upper``/``lower``/``initcap`` use the JVM's FULL Unicode case
   mappings where DuckDB uses simple (1:1) mappings — probed r9:
   ``upper('ß')`` is 'SS' here, 'ẞ' there; ``lower('İ')`` is 'i̇'
   (i + combining dot above) here, 'i' there.  ASCII agrees
   everywhere; full mappings are what Unicode's SpecialCasing.txt
   prescribes, so the JVM behavior is kept.
18. ``reverse`` reverses CODEPOINTS (JVM) where DuckDB reverses
   grapheme clusters — a combining mark detaches from its base
   (probed r9: reverse of a decomposed 'é' reattaches the accent to
   the neighboring letter).  Precomposed text agrees.
19. A string-keyed map subscript ``m['k']`` returns the VALUE here
   (NULL when the key is missing or the map is NULL); DuckDB returns a
   one-element LIST ([] when missing — probed r9: ``MAP {'x': 1}['x']``
   is [1] there, 1 here).  DuckDB's own ``element_at`` and
   ``map_extract_value`` agree with our scalar reading; the list wrap
   is a DuckDB-specific wart we do not replicate.  (A struct subscript
   ``st['a']`` resolves natively in Spark; a scalar ``|| [list]`` mixed
   chain errors here where DuckDB silently VARCHAR-stringifies both
   sides.)
20. Ranking window functions over a LIST-typed partition key partition
   correctly here; the bundled DuckDB 1.0.0 treats EVERY row as its own
   partition for ntile/row_number/rank when PARTITION BY is list-typed
   (probed r9: ``row_number() OVER (PARTITION BY element_at(mp,'x')
   ORDER BY k)`` is all 1s there while ``count(*) OVER`` the same
   partition counts 7 — and a VARCHAR cast of the same key fixes it).
   A DuckDB-side bug we do not replicate (fuzz r9 seed 1854).
21. Ordering ARRAY values that contain NULL elements: Spark compares a
   NULL element as SMALLEST, DuckDB as LARGEST (probed r9:
   ``ORDER BY ls`` puts [NULL, 7] first here, last there).  Arrays
   without NULL elements — and any ordering where an earlier key
   disambiguates — agree; element-level null order inside array
   comparison is not controllable from the query (mutation-fuzz r9
   seed 417).  Same root surfaces through ``min``/``max`` over nested
   columns (r10/r11: ``max(COLUMNS(*))`` over the nested fixture — the
   MAP column aggregates via the insertion-order ``map_entries``
   surrogate, DuckDB's actual positional comparison (probed r11:
   ``MAP(['a','z'],[9,9]) < MAP(['b','a'],[1,1])`` — NOT key-sorted),
   and agrees when entry values are non-NULL; list/struct/
   NULL-valued-map winners can differ by the element-level null order —
   DuckDB's ``<`` even returns NULL when a compared entry value is
   NULL, where Spark ranks the NULL element smallest).
22. ``list_intersect``/``array_intersect`` element ORDER: DuckDB
   returns the same value set in an input-dependent internal hash
   order ([1,2,3] ∩ [2,3,99] is [3,2] there but [3,2] ∩ [2,3] is
   [2,3] — probed r9); this engine keeps the second list's order.
   VALUES agree (incl. DuckDB's NULL-element drop and its asymmetric
   NULL-argument rule, both replicated); wrap in list_sort for an
   order-stable comparison.
"""

from __future__ import annotations

import contextvars
import logging
import re
from typing import Callable, NamedTuple, TypeVar

from pyspark.errors import AnalysisException
from pyspark.logger import PySparkLogger

# The shim's passes live in three sibling modules — dialect_core (lexing,
# statement rewrites, bracket syntax), dialect_macros (function renames +
# _FN_MACROS expression macros), dialect_typing (operator/literal pack +
# numeric typing passes).  This module keeps the public pipeline
# (rewrite_duckdb_dialect and its retry loop) and imports only the names it
# uses; callers import every other name from its defining module.

from parquet_query_spark.workbench.dialect_core import (
    _code_mask,
    strip_comments,
    _unquote_function_names,
    _rewrite_dynamic_interval,
    _rewrite_named_window_case,
    _rewrite_exclude,
    _rewrite_datetime_formats,
    _rewrite_qualify,
    _rewrite_qualify_inject,
    _rewrite_asof_join,
    _rewrite_read_functions,
    _rewrite_describe,
    _rewrite_pragma,
    _rewrite_create_view,
    _rewrite_unpivot,
    _rewrite_from_first,
    _rewrite_distinct_on,
    _SEEN_HEADS,
    _STRING_SUBSCRIPTS,
    _base_head,
    _split_call_args,
    _rewrite_array_type_suffix,
    _rewrite_brackets,
    _rewrite_using_sample,
)
from parquet_query_spark.workbench.dialect_macros import (
    _rewrite_function_names,
    _rewrite_fn_macros,
)
from parquet_query_spark.workbench.dialect_typing import (
    _rewrite_arrayish_pipe_concat,
    _rewrite_bare_varchar,
    _rewrite_dollar_strings,
    _rewrite_literal_backslashes,
    _rewrite_numeric_underscores,
    _rewrite_int_casts,
    _rewrite_intdiv,
    _rewrite_brace_literals,
    _rewrite_dot_chain,
    _rewrite_concat_skip_nulls,
    _rewrite_ducktype_numerics,
    _rewrite_divmod_null,
    _rewrite_window_filter,
    _rewrite_count_distinct_window,
    _rewrite_operator_pack,
    _rewrite_order_by_nulls,
    _rewrite_series_tvf,
)

# The pass pipeline, in application order.  Ordering constraints that
# matter (each learned from a fuzz failure): dollar-strings/backslashes/
# underscores run first, so every later pass sees Spark's spelling of
# strings and numbers; brace literals before brackets (MAP {..}['k']
# needs the call form); dot-chain before brackets (subscripts glue to
# their chained base); brackets before the operator pack (a subscript is
# already a call when it is an operand); fn_macros before function_names
# (a macro's arity guard must see the DuckDB spelling); the numeric typing
# passes (ducktype → concat-skip-nulls → arrayish-|| → int-casts → divmod)
# run last so they see every emitted shape.  The read-function, macro,
# rename, datetime-format, ducktype, concat, window FILTER / DISTINCT and
# CAST passes (and the series step) are each one `_rewrite_calls` walk
# over a handler table; the dot-chain, operator-pack, arrayish-||, ``::``
# and divmod passes are each one `_rewrite_operators` walk.
_PASSES = (
    _rewrite_dollar_strings,
    _rewrite_literal_backslashes,
    _rewrite_numeric_underscores,
    _rewrite_pragma,
    _rewrite_create_view,
    _rewrite_read_functions,
    _rewrite_unpivot,
    _rewrite_describe,
    _rewrite_from_first,
    _rewrite_distinct_on,
    _rewrite_asof_join,
    _rewrite_brace_literals,
    _rewrite_dot_chain,
    _rewrite_array_type_suffix,
    _rewrite_brackets,
    _rewrite_bare_varchar,
    _rewrite_intdiv,
    _rewrite_operator_pack,
    _rewrite_series_tvf,
    _rewrite_order_by_nulls,
    _rewrite_fn_macros,
    _rewrite_function_names,
    _rewrite_using_sample,
    _rewrite_exclude,
    _rewrite_datetime_formats,
    _rewrite_qualify,
    _rewrite_window_filter,
    _rewrite_count_distinct_window,
    _rewrite_ducktype_numerics,
    _rewrite_concat_skip_nulls,
    _rewrite_arrayish_pipe_concat,
    _rewrite_int_casts,
    _rewrite_divmod_null,
    _rewrite_named_window_case,
)


T = TypeVar("T")


class _Hints(NamedTuple):
    """What the retry loop has learned about one statement: the subscript
    heads Spark typed as STRING (their subscripts take the substr reading),
    QUALIFY's inject shape, and the ``size`` reading of ``len``."""

    heads: frozenset = frozenset()
    inject: bool = False
    size: bool = False


def _rewrite(sql: str, hints: _Hints = _Hints(), seen: set | None = None) -> str:
    """The pass pipeline under ``hints``; the bracket pass adds the heads
    it classifies to ``seen``.  Contextvars, not module globals: a
    concurrent Engine.sql on another thread must not see them."""
    toks = _STRING_SUBSCRIPTS.set(hints.heads), _SEEN_HEADS.set(seen)
    try:
        sql = _unquote_function_names(strip_comments(sql))
        sql = _rewrite_dynamic_interval(sql)
        for p in _PASSES:
            if hints.inject and p is _rewrite_qualify:
                p = _rewrite_qualify_inject
            sql = p(sql)
    finally:
        _STRING_SUBSCRIPTS.reset(toks[0])
        _SEEN_HEADS.reset(toks[1])
    return _swap_len_to_size(sql) if hints.size else sql


def rewrite_duckdb_dialect(sql: str) -> str:
    """Apply every DuckDB-dialect rewrite (each pass re-lexes)."""
    return _rewrite(sql)


# The calls the bracket pass emits for a subscript (``size`` heads the
# open slice's length, ``list_slice`` is left unexpanded when a bound is
# not a literal), and ``len``, whose ``size`` reading a hint swaps in.
_HINTED_CALL = re.compile(r"(try_element_at|slice|size|list_slice|len)\s*\(", re.IGNORECASE)


def _retry(sql: str, err: AnalysisException, hints: _Hints, seen: set) -> tuple[_Hints, str]:
    """``hints`` plus the one hint ``err`` names, and the text they render.

    The failing expression is the query context's fragment, the text this
    module emitted.  A ``len`` over an ARRAY or MAP names the ``size``
    reading.  A subscript call whose first argument Spark typed STRING (or
    an unresolved ``list_slice``, which only a string reading satisfies)
    names a head: that argument's own head, or, when a later pass rewrote
    it, the first head the bracket pass saw (``seen``) whose string reading
    removes the fragment.  Any other error names QUALIFY's inject shape,
    which leaves a statement without QUALIFY unchanged."""
    ctx = err.getQueryContext()
    frag = ctx[0].fragment() if ctx else ""
    m = _HINTED_CALL.match(frag)
    typ = (err.getMessageParameters() or {}).get("inputType", "")
    if m and m.group(1).lower() == "len":
        if typ.startswith(('"ARRAY', '"MAP')):
            hints = hints._replace(size=True)
            return hints, _rewrite(sql, hints)
    elif m and (typ == '"STRING"' or err.getCondition() == "UNRESOLVED_ROUTINE"):
        parsed = _split_call_args(frag, m.end() - 1)
        own = _base_head(parsed[0][0]) if parsed else None
        for head in (own, *sorted(seen - {own})):
            if head and head not in hints.heads:
                with_head = hints._replace(heads=hints.heads | {head})
                text = _rewrite(sql, with_head)
                if frag not in text:
                    return with_head, text
    hints = hints._replace(inject=True)
    return hints, _rewrite(sql, hints)


# PySpark logs every AnalysisException it converts, with its JVM stack,
# as an ERROR of this logger.  Inside the retry loop a failed analysis is
# expected, so the loop's own thread drops those records; the error it
# finally raises reaches the caller as the exception.  (Asking plain
# ``logging`` for this logger before PySpark made it would create a
# Logger that cannot take PySpark's ``errorClass`` keyword.)
_RETRYING = contextvars.ContextVar("_RETRYING", default=False)


class _QuietRetries(logging.Filter):
    def filter(self, record: logging.LogRecord) -> bool:
        return not _RETRYING.get()


PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(_QuietRetries())


def analyze_dialect(sql: str, analyze: Callable[[str], T]) -> T:
    """``analyze(rewrite_duckdb_dialect(sql))``, retried while Spark's
    analyzer names a type the text alone could not tell.  DuckDB types
    ``x[i]``, ``x[a:b]`` and ``len(x)`` for strings and lists alike; the
    primary text reads them as lists.  Each AnalysisException adds the
    hint it names (``_retry``) and the statement is analyzed again; when
    the error names no new hint, the primary error is raised.
    ``analyze`` must analyze eagerly (``session.assert_eager_analysis``)."""
    hints, seen = _Hints(), set()
    text = _rewrite(sql, hints, seen)
    tried: set[str] = set()
    first = None
    quiet = _RETRYING.set(True)
    try:
        while text not in tried:
            tried.add(text)
            try:
                return analyze(text)
            except AnalysisException as e:
                first = first or e
                hints, text = _retry(sql, e, hints, seen)
    finally:
        _RETRYING.reset(quiet)
    raise first


def _swap_len_to_size(sql: str) -> str:
    mask = _code_mask(sql)
    repls = [
        m
        for m in re.finditer(r"\blen\s*\(", sql, re.IGNORECASE)
        if all(mask[i] for i in range(m.start(), m.end()))
        and (m.start() == 0 or sql[m.start() - 1] != ".")
    ]
    for m in reversed(repls):
        sql = sql[: m.start()] + "size" + sql[m.start() + 3 : m.end()] + sql[m.end() :]
    return sql
