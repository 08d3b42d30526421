"""The reference's six template queries, re-targeted onto the driver schema.

The reference ships six CUR-shaped template queries as its de-facto
acceptance suite (``/root/reference/src/App.tsx:153-227``).  The driver's
corpus has no CUR table, so each template keeps its exact SQL *shape*
(COALESCE service naming, date_trunc months, CASE-in-SUM, IS NOT NULL
filters, interval arithmetic, same output column names) remapped:

    line_item_usage_account_id        → o_custkey (as string)
    line_item_unblended_cost          → o_totalprice / l_extendedprice
    bill_billing_period_start_date    → o_orderdate
    line_item_line_item_type          → o_orderstatus / l_returnflag

``CURRENT_DATE`` anchors are pinned to a literal anchor date so results are
deterministic against the 1995-2001 synthetic data (the reference's
CURRENT_DATE-relative form is exercised verbatim in tests/test_engine_sql.py
where determinism doesn't matter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_query_spark.operators.catalog import bare_names, query, views

# anchor chosen inside the data's date range; '30 days before' still has rows
_T1 = """
SELECT
  CAST(o_custkey AS STRING)           AS account_id,
  COUNT(*)                            AS total_linhas,
  round(SUM(o_totalprice), 2)         AS total_custo,
  MIN(o_orderdate)                    AS periodo_inicio,
  MAX(o_orderdate)                    AS periodo_fim
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '2001-08-01' - INTERVAL '30' DAY
GROUP BY account_id
ORDER BY total_custo DESC, account_id
"""

_T2 = """
SELECT
  COALESCE(NULLIF(o_orderpriority, ''), o_orderstatus) AS service_name,
  COUNT(*)                                             AS total_linhas,
  round(SUM(o_totalprice), 2)                          AS total_custo
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '2001-08-01' - INTERVAL '90' DAY
  AND o_orderstatus <> 'P'
GROUP BY service_name
ORDER BY total_custo DESC, service_name
LIMIT 50
"""

_T3 = """
SELECT
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mes,
  COUNT(*)                         AS total_linhas,
  round(SUM(o_totalprice), 2)      AS total_custo
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '2001-08-01' - INTERVAL '90' DAY
  AND o_orderstatus <> 'P'
GROUP BY mes
ORDER BY mes DESC
"""

_T4 = """
SELECT
  CAST(o_custkey AS STRING)                            AS account_id,
  COALESCE(NULLIF(o_orderpriority, ''), o_orderstatus) AS service_name,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)  AS mes,
  round(SUM(o_totalprice), 2)                          AS custo
FROM {orders}
WHERE CAST(o_custkey AS STRING) = '42'
  AND o_orderdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1999-12-31'
  AND o_orderstatus <> 'P'
GROUP BY account_id, service_name, mes
ORDER BY mes DESC, custo DESC, service_name
"""

_T5 = """
SELECT
  CAST(o_custkey AS STRING)          AS account_id,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mes,
  CAST(CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sp_commitment,
  CAST(CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sp_effective_cost,
  CAST(CAST(round(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sp_usage_save
FROM {orders}
JOIN {lineitem} ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '2001-05-01' - INTERVAL '90' DAY
  AND l_shipdate IS NOT NULL
GROUP BY account_id, mes
ORDER BY mes DESC, account_id
"""

_T6 = """
SELECT
  CAST(o_custkey AS STRING)          AS account_id,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mes,
  CAST(CAST(round(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS ri_cost,
  CAST(CAST(round(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS ri_usage_cost,
  CAST(CAST(round(SUM(CAST(l_tax * l_extendedprice AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS unused_ri
FROM {orders}
JOIN {lineitem} ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '2001-05-01' - INTERVAL '90' DAY
  AND l_returnflag IS NOT NULL
GROUP BY account_id, mes
ORDER BY mes DESC, account_id
"""

_TEMPLATES = {
    "template_account_summary": _T1,   # App.tsx:154-164
    "template_service_summary": _T2,   # App.tsx:166-176
    "template_monthly_summary": _T3,   # App.tsx:178-187
    "template_account_details": _T4,   # App.tsx:189-200
    "template_savings_plans": _T5,     # App.tsx:202-213
    "template_reserved_instances": _T6,  # App.tsx:215-226
}


def _make(name: str, sql: str):
    @query(name, oracle=bare_names(sql), tags=("template",))
    def _fn(spark: SparkSession, sf_dir: str, _sql=sql) -> DataFrame:
        return spark.sql(_sql, **views(spark, sf_dir))

    _fn.__doc__ = f"Reference template query (see module docstring): {name}"
    _fn.__name__ = name
    return _fn


for _name, _sql in _TEMPLATES.items():
    _make(_name, _sql)
