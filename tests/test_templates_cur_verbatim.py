"""Run the reference's six template queries VERBATIM on a CUR-shaped fixture
(FIXTURES.md §1) through BOTH engines and compare.

The templates (/root/reference/src/App.tsx:153-227) use CURRENT_DATE
arithmetic, so the fixture is generated relative to today (deterministic
seed otherwise) and both engines evaluate the same SQL text on the same day.
The only allowed transformation is dialect-neutralization of types at the
compare boundary (DuckDB date_trunc yields DATE, Spark yields TIMESTAMP).
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

TEMPLATES = {
    "resumo_conta": """
SELECT
  line_item_usage_account_id AS account_id,
  COUNT(*) AS total_linhas,
  round(SUM(line_item_unblended_cost), 2) AS total_custo,
  MIN(bill_billing_period_start_date) AS periodo_inicio,
  MAX(bill_billing_period_start_date) AS periodo_fim
FROM dotted_org_cur
WHERE bill_billing_period_start_date >= CURRENT_DATE - INTERVAL '30' DAY
GROUP BY line_item_usage_account_id
ORDER BY total_custo DESC""",
    "resumo_servico": """
SELECT
  COALESCE(product_servicename, product_product_name, line_item_line_item_type) AS service_name,
  COUNT(*) AS total_linhas,
  round(SUM(line_item_unblended_cost), 2) AS total_custo
FROM dotted_org_cur
WHERE bill_billing_period_start_date >= CURRENT_DATE - INTERVAL '30' DAY
  AND line_item_line_item_type <> 'Tax'
GROUP BY service_name
ORDER BY total_custo DESC
LIMIT 50""",
    "resumo_mes": """
SELECT
  date_trunc('month', bill_billing_period_start_date) AS mes,
  COUNT(*) AS total_linhas,
  round(SUM(line_item_unblended_cost), 2) AS total_custo
FROM dotted_org_cur
WHERE bill_billing_period_start_date >= CURRENT_DATE - INTERVAL '90' DAY
  AND line_item_line_item_type <> 'Tax'
GROUP BY mes
ORDER BY mes DESC""",
    "detalhes_conta": """
SELECT
  line_item_usage_account_id AS account_id,
  COALESCE(product_servicename, product_product_name, line_item_line_item_type) AS service_name,
  date_trunc('month', bill_billing_period_start_date) AS mes,
  round(SUM(line_item_unblended_cost), 2) AS custo
FROM dotted_org_cur
WHERE line_item_usage_account_id = '331957531828'
  AND bill_billing_period_start_date BETWEEN TIMESTAMP '2025-12-01' AND TIMESTAMP '2025-12-31'
  AND line_item_line_item_type <> 'Tax'
GROUP BY account_id, service_name, mes
ORDER BY mes DESC, custo DESC""",
    "savings_plans": """
SELECT
  line_item_usage_account_id AS account_id,
  date_trunc('month', bill_billing_period_start_date) AS mes,
  round(SUM(savings_plan_total_commitment_to_date), 2) AS sp_commitment,
  round(SUM(savings_plan_savings_plan_effective_cost), 2) AS sp_effective_cost,
  round(SUM(CASE WHEN line_item_line_item_type = 'SavingsPlanCoveredUsage' THEN line_item_unblended_cost ELSE 0 END), 2) AS sp_usage_save
FROM dotted_org_cur
WHERE bill_billing_period_start_date >= CURRENT_DATE - INTERVAL '90' DAY
  AND savings_plan_savings_plan_a_r_n IS NOT NULL
GROUP BY account_id, mes
ORDER BY mes DESC, account_id""",
    "reserved_instances": """
SELECT
  line_item_usage_account_id AS account_id,
  date_trunc('month', bill_billing_period_start_date) AS mes,
  round(SUM(CASE WHEN line_item_line_item_type = 'RIFee' THEN line_item_unblended_cost ELSE 0 END), 2) AS ri_cost,
  round(SUM(CASE WHEN line_item_line_item_type = 'DiscountedUsage' THEN reservation_effective_cost ELSE 0 END), 2) AS ri_usage_cost,
  round(SUM(reservation_unused_recurring_fee), 2) AS unused_ri
FROM dotted_org_cur
WHERE bill_billing_period_start_date >= CURRENT_DATE - INTERVAL '90' DAY
  AND reservation_reservation_a_r_n IS NOT NULL
GROUP BY account_id, mes
ORDER BY mes DESC, account_id""",
}


def _gen_cur(n_rows: int = 10_000) -> pd.DataFrame:
    """Deterministic CUR-shaped rows (FIXTURES.md §1) anchored to today."""
    rng = np.random.default_rng(42)
    accounts = ["331957531828", "111122223333", "444455556666", "777788889999", "123456789012"]
    services = [f"Amazon Service {i}" for i in range(8)]
    types = ["Usage", "Usage", "Usage", "Tax", "SavingsPlanCoveredUsage", "RIFee", "DiscountedUsage"]
    today = dt.date.today()
    periods = [
        dt.datetime(today.year, today.month, 1) - pd.DateOffset(months=k)
        for k in range(4)
    ]
    svc = rng.choice(services, n_rows)
    svc_null = rng.random(n_rows) < 0.2
    sp_arn = rng.random(n_rows) < 0.15
    ri_arn = rng.random(n_rows) < 0.15
    # money values quantized to exact cents so SUM-order can't flip rounding
    money = lambda scale: np.round(rng.gamma(2.0, scale, n_rows), 2)
    return pd.DataFrame(
        {
            "line_item_usage_account_id": rng.choice(accounts, n_rows),
            "line_item_unblended_cost": money(25.0),
            "bill_billing_period_start_date": rng.choice(
                np.array([p.to_pydatetime() if hasattr(p, "to_pydatetime") else p for p in periods], dtype="datetime64[us]"),
                n_rows,
            ),
            "product_servicename": np.where(svc_null, None, svc),
            "product_product_name": np.where(rng.random(n_rows) < 0.5, None, svc),
            "line_item_line_item_type": rng.choice(types, n_rows),
            "savings_plan_total_commitment_to_date": np.where(sp_arn, money(100.0), np.nan),
            "savings_plan_savings_plan_effective_cost": np.where(sp_arn, money(80.0), np.nan),
            "savings_plan_savings_plan_a_r_n": np.where(sp_arn, "arn:aws:sp/x", None),
            "reservation_effective_cost": np.where(ri_arn, money(60.0), np.nan),
            "reservation_unused_recurring_fee": np.where(ri_arn, money(10.0), np.nan),
            "reservation_reservation_a_r_n": np.where(ri_arn, "arn:aws:ri/y", None),
        }
    )


@pytest.fixture(scope="module")
def cur_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cur")
    pdf = _gen_cur()
    # two files so the union-view builder path (A5) is what's exercised
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(d / "2025-11.parquet", index=False)
    pdf.iloc[half:].to_parquet(d / "2025-12.parquet", index=False)
    return str(d)


def _neutral(v):
    """Dialect-neutral canonical value (DATE vs midnight-TIMESTAMP equal)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    if v is None:
        return "∅"
    if isinstance(v, float):
        return repr(round(v, 2))
    return str(v)


@pytest.mark.parametrize("name", list(TEMPLATES))
def test_reference_template_verbatim(spark, cur_dir, name):
    import duckdb

    from parquet_query_spark.engine import Engine

    sql = TEMPLATES[name]

    eng = Engine.open(cur_dir, table_name="dotted_org_cur", spark=spark)
    sdf = eng.sql(sql)
    s_rows = sorted(
        "|".join(_neutral(v) for v in row) for row in sdf.collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW dotted_org_cur AS SELECT * FROM read_parquet(['{cur_dir}/2025-11.parquet', '{cur_dir}/2025-12.parquet'])"
    )
    cur = con.execute(sql)
    d_rows = sorted("|".join(_neutral(v) for v in row) for row in cur.fetchall())

    assert [c.lower() for c in sdf.columns] == [d[0].lower() for d in cur.description]
    assert s_rows == d_rows, f"{name}: spark={s_rows[:2]} duckdb={d_rows[:2]}"
