"""Script-tab persistence with categories + example-query generators.

Mirrors the reference workbench's tab model (``/root/reference/src/
App.tsx:23-29``): every saved script belongs to one of three categories —
``scripts | bookmarks | templates`` — persisted as one JSON document (the
localStorage analog, ``App.tsx:229-255``).  The six built-in template
queries ship pre-seeded in the ``templates`` category, and opening a
template copies it into ``scripts`` (the template-button behavior at
``App.tsx:670-693``), leaving the template itself pristine.

Example-query generators (``App.tsx:61-64`` and the sidebar per-file
affordance): ``table_example_sql`` emits the reference's exact
``SELECT * FROM <ident> LIMIT 50`` scaffold for the union view;
``file_example_sql`` emits the per-imported-file
``SELECT * FROM '<path>' LIMIT 100`` path-literal scan.
"""

from __future__ import annotations

import json
import os

from parquet_query_spark.workbench.quoting import sql_identifier, sql_string_literal

CATEGORIES = ("scripts", "bookmarks", "templates")


def table_example_sql(table_name: str) -> str:
    """One-click example for the union view (App.tsx:61-64, verbatim shape)."""
    return f"-- Exemplo rápido\nSELECT * FROM {sql_identifier(table_name)} LIMIT 50;"


def file_example_sql(path: str) -> str:
    """One-click example for a single imported file (path-literal scan)."""
    return f"SELECT * FROM {sql_string_literal(path)} LIMIT 100;"


def _builtin_templates() -> dict[str, str]:
    from parquet_query_spark.operators.catalog import bare_names
    from parquet_query_spark.operators.templates import _TEMPLATES

    return {name: bare_names(sql).strip() + "\n" for name, sql in _TEMPLATES.items()}


class TabStore:
    """Categorised name→sql store persisted as one JSON file.

    On-disk shape: ``{"scripts": {name: sql}, "bookmarks": {...},
    "templates": {...}}``.  A legacy flat ``{name: sql}`` file (the
    pre-category format) migrates into ``scripts`` on load.
    """

    def __init__(self, path: str):
        self.path = path
        self.tabs: dict[str, dict[str, str]] = {c: {} for c in CATEGORIES}
        self._load()

    def _load(self) -> None:
        try:
            with open(self.path) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            raw = {}
        if isinstance(raw, dict) and any(c in raw for c in CATEGORIES):
            for c in CATEGORIES:
                sub = raw.get(c, {})
                if isinstance(sub, dict):
                    self.tabs[c] = {str(k): str(v) for k, v in sub.items()}
        elif isinstance(raw, dict):
            # legacy flat name→sql store → scripts category
            self.tabs["scripts"] = {str(k): str(v) for k, v in raw.items()}
        # reference parity: built-in templates always present (App.tsx ships
        # TEMPLATE_QUERIES as a fixed catalog, not user state)
        for name, sql in _builtin_templates().items():
            self.tabs["templates"].setdefault(name, sql)

    def persist(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump(self.tabs, f, indent=2)

    def save(self, name: str, sql: str, category: str = "scripts") -> None:
        if category not in CATEGORIES:
            raise ValueError(f"unknown category {category!r} (use {'/'.join(CATEGORIES)})")
        self.tabs[category][name] = sql
        self.persist()

    def open(self, name: str, category: str | None = None) -> tuple[str, str]:
        """Return (sql, category-it-now-lives-in).

        Search order scripts → bookmarks → templates when no category is
        given.  Opening a template copies it into ``scripts`` (the
        reference's template-button semantics) so edits never mutate the
        template itself."""
        cats = (category,) if category else CATEGORIES
        for c in cats:
            if name in self.tabs.get(c, {}):
                sql = self.tabs[c][name]
                if c == "templates":
                    self.tabs["scripts"].setdefault(name, sql)
                    self.persist()
                    return sql, "scripts"
                return sql, c
        raise KeyError(name)

    def names(self, category: str | None = None) -> dict[str, list[str]]:
        cats = (category,) if category else CATEGORIES
        return {c: sorted(self.tabs[c]) for c in cats if c in self.tabs}
