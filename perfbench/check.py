"""Independent checks of the program's outputs, computed with DuckDB
straight from the input files. They run outside the timed region.

- ``expected_mrr``: end-of-month MRR and active accounts per month from
  the raw subscription CSVs: the latest arrival per subscription counts
  in a month when it is active on the month's last day and is not a
  trial; a negative amount counts as 0.
- ``expected_versions``: SCD2 version counts from the raw CSVs: one open
  version per key, and one version per arrival whose payload (after the
  staging contract's cleaning) differs from the key's previous arrival.
- ``suite_parity``: an operator-suite entry's rows against its DuckDB
  oracle, under the suite's own parity rules.
"""

from __future__ import annotations

import datetime as dt

import duckdb

MRR_TOL = 0.005

# the staging contract's cleaning, as DuckDB expressions over all-varchar
# CSV columns; the payload is what the record hash covers
_TXT = "nullif(trim({c}), '')"
_BOOL = "CAST(nullif(trim({c}), '') AS BOOLEAN)"
SUB_PAYLOAD = [
    "trim(subscription_id)", "trim(account_id)",
    "CAST(nullif(trim(start_date), '') AS DATE)", "CAST(nullif(trim(end_date), '') AS DATE)",
    _TXT.format(c="plan_tier"), "CAST(nullif(trim(seats), '') AS INTEGER)",
    "CAST(nullif(trim(mrr_amount), '') AS DOUBLE)", "CAST(nullif(trim(arr_amount), '') AS DOUBLE)",
    _BOOL.format(c="is_trial"), _BOOL.format(c="upgrade_flag"),
    _BOOL.format(c="downgrade_flag"), _BOOL.format(c="churn_flag"),
    "lower(" + _TXT.format(c="billing_frequency") + ")", _BOOL.format(c="auto_renew_flag"),
]
ACCOUNT_PAYLOAD = [
    "trim(account_id)", _TXT.format(c="account_name"), _TXT.format(c="industry"),
    _TXT.format(c="country"), "CAST(nullif(trim(signup_date), '') AS DATE)",
    _TXT.format(c="referral_source"), _TXT.format(c="plan_tier"),
    "CAST(nullif(trim(seats), '') AS INTEGER)", _BOOL.format(c="is_trial"),
    _BOOL.format(c="churn_flag"),
]


def connect(temp_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    if temp_dir:
        con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _arrivals(arrivals: list[tuple[str, str]]) -> str:
    """UNION ALL of (batch timestamp, csv path) pairs as one relation."""
    parts = [
        f"SELECT *, TIMESTAMP '{ts}' AS _ts, {i} AS _seq "
        f"FROM read_csv('{path}', header = true, all_varchar = true)"
        for i, (ts, path) in enumerate(arrivals)
    ]
    return " UNION ALL BY NAME ".join(parts)


def expected_mrr(con, arrivals: list[tuple[str, str]], months: list[dt.date]) -> dict[dt.date, tuple[float, int]]:
    """month_start -> (end-of-month MRR, active accounts), from the
    subscription CSVs of every batch landed so far."""
    month_list = ", ".join(f"DATE '{m.isoformat()}'" for m in months)
    sql = f"""
    WITH arrivals AS ({_arrivals(arrivals)}),
    cur AS (
      SELECT trim(account_id) AS aid,
             CAST(start_date AS DATE) AS sd,
             CAST(nullif(trim(end_date), '') AS DATE) AS ed,
             coalesce(CAST(nullif(trim(is_trial), '') AS BOOLEAN), false) AS trial,
             CAST(nullif(trim(mrr_amount), '') AS DOUBLE) AS mrr
      FROM arrivals
      QUALIFY row_number() OVER (PARTITION BY trim(subscription_id) ORDER BY _ts DESC, _seq DESC) = 1
    ),
    months AS (SELECT unnest([{month_list}]) AS m),
    per_account AS (
      SELECT m, aid,
             sum(CASE WHEN sd <= last_day(m) AND (ed IS NULL OR ed >= last_day(m)) AND NOT trial
                      THEN greatest(coalesce(mrr, 0), 0) ELSE 0 END) AS mrr
      FROM months CROSS JOIN cur
      GROUP BY m, aid
    )
    SELECT m, sum(mrr), count(*) FILTER (WHERE mrr > 0) FROM per_account GROUP BY m
    """
    return {m: (float(v), int(n)) for m, v, n in con.execute(sql).fetchall()}


def mart_mismatches(con, mart_dir: str, expected: dict[dt.date, tuple[float, int]]) -> list[str]:
    """Months where the mart's end_mrr / active_accounts differ from
    ``expected``."""
    got = {
        m: (float(v), int(n))
        for m, v, n in con.execute(
            f"SELECT month_start_date, end_mrr, active_accounts FROM read_parquet('{mart_dir}/*.parquet')"
        ).fetchall()
    }
    bad = []
    for m, (mrr, n) in sorted(expected.items()):
        if m not in got:
            bad.append(f"{m}: missing from mart")
        elif abs(got[m][0] - mrr) > MRR_TOL or got[m][1] != n:
            bad.append(f"{m}: mart {got[m]} != expected {(round(mrr, 2), n)}")
    return bad


def expected_versions(con, arrivals: list[tuple[str, str]], key: str, payload: list[str]) -> tuple[int, int]:
    """(distinct keys, SCD2 versions) implied by the arrivals, when every
    batch is built before the next lands."""
    row = ", ".join(payload)
    sql = f"""
    WITH a AS (
      SELECT trim({key}) AS k, _ts, _seq, ROW({row}) AS payload FROM ({_arrivals(arrivals)})
    ),
    d AS (
      SELECT k, payload IS DISTINCT FROM lag(payload) OVER (PARTITION BY k ORDER BY _ts, _seq) AS changed
      FROM a
    )
    SELECT count(DISTINCT k), count(*) FILTER (WHERE changed) FROM d
    """
    keys, versions = con.execute(sql).fetchone()
    return int(keys), int(versions)


def snapshot_mismatches(con, snap_dir: str, key: str, expected: tuple[int, int]) -> list[str]:
    keys, open_, total = con.execute(
        f"SELECT count(DISTINCT {key}), count(*) FILTER (WHERE dbt_valid_to IS NULL), count(*) "
        f"FROM read_parquet('{snap_dir}/*.parquet')"
    ).fetchone()
    bad = []
    if open_ != expected[0] or keys != expected[0]:
        bad.append(f"{snap_dir}: {open_} open versions over {keys} keys, expected {expected[0]}")
    if total != expected[1]:
        bad.append(f"{snap_dir}: {total} versions, expected {expected[1]}")
    return bad


def register_testdata(con, data_dir: str, tables) -> None:
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")


def suite_parity(con, oracle_sql: str, rows, columns) -> list[str]:
    from duckdb_dbt_finance_warehouse_spark.suite.parity import compare

    res = con.execute(oracle_sql)
    return compare(rows, columns, res.fetchall(), [d[0] for d in res.description])
