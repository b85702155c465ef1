"""Seeded input generator for the benchmark.

Two kinds of input, both written as plain files the program reads:

- ``base_feeds``: the five CSV feeds of the finance warehouse
  (accounts, subscriptions, support_tickets, feature_usage,
  churn_events) shaped like the reference data at any scale, carrying
  the mess FIXTURES.md profiles: ``True``/``False`` booleans, empty
  strings, negative mrr/arr/hours, untrimmed ids, mixed-case
  billing_frequency, ~10 % end dates and ~16 % trials.
- ``DailyBatches``: the stream of small daily CSV batches that follow a
  full build: new subscriptions, SCD2 changes, churn end dates on and
  before the last day of a month, unchanged re-arrivals, and late
  restatements (end dates and start dates months back), so each batch
  is built with a raised ``reprocess_months``.
- ``write_testdata``: the TPC-H-ish parquet tables the operator suite
  reads (region … embeddings), with the same schemas and value domains
  as the suite's correctness corpus.

The same seed gives byte-identical files.

  python3 perfbench/gen.py feeds --out DIR --seed 1 [--scale 1.0] [--batches 4]
  python3 perfbench/gen.py testdata --out DIR --seed 1 [--scale 0.01]
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import date, datetime, timedelta

import numpy as np
import pandas as pd

# reference volume (FIXTURES.md): rows per feed at scale 1.0
REFERENCE_ROWS = {
    "accounts": 500,
    "subscriptions": 5000,
    "support_tickets": 2000,
    "feature_usage": 25000,
    "churn_events": 600,
}
# the warehouse's date spine (dim_date defaults) ends with 2025-12; the
# daily batches land after the base load and touch its last months
BASE_TS = "2025-11-30 00:00:00"
DAILY_TS0 = datetime(2025, 12, 1)
MONTH_ENDS = ["2025-10-31", "2025-11-30"]
MID_MONTHS = ["2025-10-15", "2025-11-14", "2025-12-10"]
LATE_ENDS = ["2025-07-10", "2025-07-31", "2025-08-19"]
# the late rows reach back to June (late starts from 2025-06-01, late
# ends in July and August): restate from June, six months before December
LATE_REPROCESS_MONTHS = 6

INDUSTRIES = ["DevTools", "FinTech", "Cybersecurity", "HealthTech", "EdTech"]
COUNTRIES = ["US", "UK", "IN", "AU", "DE", "CA", "FR"]
COUNTRY_P = [0.58, 0.08, 0.08, 0.07, 0.07, 0.06, 0.06]
REFERRALS = ["organic", "other", "ads", "event", "partner"]
TIERS = ["Basic", "Pro", "Enterprise"]
BILLING = ["monthly", "Monthly", "MONTHLY", "annual", "Annual", ""]
BILLING_P = [0.45, 0.1, 0.05, 0.3, 0.08, 0.02]
PRIORITIES = ["urgent", "High", "medium", "low", "LOW"]
REASONS = ["features", "support", "budget", "unknown", "competitor", "pricing"]


def _bools(rng, n, p):
    return np.where(rng.random(n) < p, "True", "False")


def _ids(rng, prefix, n, width=6):
    space = max(16**width, 4 * n)
    keys = rng.choice(space, size=n, replace=False)
    return np.array([f"{prefix}{k:0{width}x}" for k in keys], dtype=object)


def _untrim(rng, ids, p=0.02):
    """Pad a share of ids with spaces; staging trims them."""
    out = ids.copy()
    for i in np.flatnonzero(rng.random(len(ids)) < p):
        out[i] = " " + out[i] if i % 2 else out[i] + " "
    return out


def _empty(rng, values, p=0.02):
    out = np.asarray(values, dtype=object).copy()
    out[rng.random(len(out)) < p] = ""
    return out


def _dates(rng, start, end, n):
    d0 = date.fromisoformat(start)
    span = (date.fromisoformat(end) - d0).days + 1
    return np.array([(d0 + timedelta(int(x))).isoformat() for x in rng.integers(0, span, n)], dtype=object)


def _money(values):
    return np.array([f"{v:.2f}" for v in values], dtype=object)


def _sub_rows(rng, ids, account_ids, start, end, n):
    """Subscription payloads (no end date) for ``n`` new subscriptions."""
    trial = rng.random(n) < 0.16
    mrr = np.round(rng.gamma(2.0, 400.0, n), 2)
    mrr[trial] = 0.0
    neg = (rng.random(n) < 0.01) & ~trial
    mrr[neg] = -mrr[neg]
    return pd.DataFrame(
        {
            "subscription_id": ids,
            "account_id": account_ids,
            "start_date": _dates(rng, start, end, n),
            "end_date": "",
            "plan_tier": _empty(rng, rng.choice(TIERS, n), 0.01),
            "seats": rng.integers(1, 190, n).astype(str),
            "mrr_amount": _money(mrr),
            "arr_amount": _money(mrr * 12),
            "is_trial": np.where(trial, "True", "False"),
            "upgrade_flag": _bools(rng, n, 0.1),
            "downgrade_flag": _bools(rng, n, 0.05),
            "churn_flag": "False",
            "billing_frequency": rng.choice(BILLING, n, p=BILLING_P),
            "auto_renew_flag": _bools(rng, n, 0.7),
        }
    )


def _account_rows(rng, ids, n, start="2023-01-01", end="2024-12-31"):
    return pd.DataFrame(
        {
            "account_id": ids,
            "account_name": _empty(rng, [f"Company_{i}" for i in rng.integers(0, 10**6, n)]),
            "industry": _empty(rng, rng.choice(INDUSTRIES, n)),
            "country": _empty(rng, rng.choice(COUNTRIES, n, p=COUNTRY_P)),
            "signup_date": _dates(rng, start, end, n),
            "referral_source": _empty(rng, rng.choice(REFERRALS, n)),
            "plan_tier": rng.choice(TIERS, n),
            "seats": rng.integers(1, 164, n).astype(str),
            "is_trial": _bools(rng, n, 0.19),
            "churn_flag": _bools(rng, n, 0.22),
        }
    )


def _tickets(rng, ids, account_ids, n, start, end):
    sub = pd.to_datetime(_dates(rng, start, end, n)) + pd.to_timedelta(rng.integers(0, 86400, n), "s")
    hours = np.round(rng.exponential(20.0, n), 1)
    hours[rng.random(n) < 0.02] *= -1
    closed = (sub + pd.to_timedelta(np.abs(hours) * 3600, "s")).strftime("%Y-%m-%d %H:%M:%S").to_numpy(object)
    closed[rng.random(n) < 0.1] = ""
    return pd.DataFrame(
        {
            "ticket_id": ids,
            "account_id": account_ids,
            "submitted_at": sub.strftime("%Y-%m-%d %H:%M:%S"),
            "closed_at": closed,
            "resolution_time_hours": hours.astype(str),
            "priority": rng.choice(PRIORITIES, n),
            "first_response_time_minutes": np.round(rng.exponential(60.0, n) * np.where(rng.random(n) < 0.02, -1, 1), 1).astype(str),
            "satisfaction_score": _empty(rng, rng.integers(1, 6, n).astype(str), 0.41),
            "escalation_flag": _bools(rng, n, 0.05),
        }
    )


def base_feeds(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The five feeds of the initial load, as string-typed frames."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in REFERENCE_ROWS.items()}
    acc_ids = _ids(rng, "A-", n["accounts"])
    accounts = _account_rows(rng, acc_ids, n["accounts"])
    accounts["account_id"] = _untrim(rng, acc_ids)

    sub_ids = _ids(rng, "S-", n["subscriptions"])
    owner = acc_ids[rng.integers(0, n["accounts"], n["subscriptions"])]
    subs = _sub_rows(rng, sub_ids, owner, "2023-01-09", "2024-12-31", n["subscriptions"])
    ends = rng.random(n["subscriptions"]) < 0.10
    start = pd.to_datetime(subs.loc[ends, "start_date"])
    subs.loc[ends, "end_date"] = (start + pd.to_timedelta(rng.integers(20, 700, ends.sum()), "D")).dt.strftime("%Y-%m-%d").to_numpy()
    subs.loc[ends, "churn_flag"] = "True"
    subs["subscription_id"] = _untrim(rng, sub_ids)
    subs["account_id"] = _untrim(rng, owner)

    tickets = _tickets(
        rng, _ids(rng, "T-", n["support_tickets"]),
        _untrim(rng, acc_ids[rng.integers(0, n["accounts"], n["support_tickets"])]),
        n["support_tickets"], "2023-01-15", "2025-11-29",
    )
    nu = n["feature_usage"]
    usage = pd.DataFrame(
        {
            "usage_id": _ids(rng, "U-", nu, 8),
            "subscription_id": sub_ids[rng.integers(0, n["subscriptions"], nu)],
            "usage_date": _dates(rng, "2023-01-15", "2025-11-29", nu),
            "feature_name": [f"feature_{i}" for i in rng.integers(1, 41, nu)],
            "usage_count": rng.integers(0, 40, nu).astype(str),
            "usage_duration_secs": rng.integers(0, 7200, nu).astype(str),
            "error_count": rng.integers(0, 5, nu).astype(str),
            "is_beta_feature": _bools(rng, nu, 0.1),
        }
    )
    nc = n["churn_events"]
    churn = pd.DataFrame(
        {
            "churn_event_id": _ids(rng, "C-", nc),
            "account_id": acc_ids[rng.integers(0, n["accounts"], nc)],
            "churn_date": _dates(rng, "2023-02-01", "2025-11-29", nc),
            "reason_code": rng.choice(REASONS, nc),
            "refund_amount_usd": _money(np.where(rng.random(nc) < 0.7, 0.0, rng.gamma(2.0, 100.0, nc))),
            "preceding_upgrade_flag": _bools(rng, nc, 0.1),
            "preceding_downgrade_flag": _bools(rng, nc, 0.1),
            "is_reactivation": _bools(rng, nc, 0.1),
            "feedback_text": _empty(rng, rng.choice(["too expensive", "missing features", "switched vendor", "great support, but budget cut"], nc), 0.25),
        }
    )
    return {
        "accounts": accounts,
        "subscriptions": subs,
        "support_tickets": tickets,
        "feature_usage": usage,
        "churn_events": churn,
    }


def write_csv(df: pd.DataFrame, path: str) -> int:
    df.to_csv(path, index=False)
    return os.path.getsize(path)


class DailyBatches:
    """The seeded stream of daily batches after the base load.

    Each batch lands accounts, subscriptions and support_tickets CSVs
    holding only the rows that arrived that day: 15 SCD2 changes, 10
    churn end dates inside the default restatement window (half on a
    month's last day, half mid-month), 10 late end dates and 5 late
    starts months back, 10 new subscriptions, 10 unchanged re-arrivals,
    3 new and 2 changed accounts, 5 tickets. The late rows need a build
    with ``reprocess_months = LATE_REPROCESS_MONTHS``.
    """

    def __init__(self, seed: int, base: dict[str, pd.DataFrame]):
        self.rng = np.random.default_rng([seed, 7])
        subs = base["subscriptions"].copy()
        subs["subscription_id"] = subs["subscription_id"].str.strip()
        subs["account_id"] = subs["account_id"].str.strip()
        self.subs = subs.set_index("subscription_id", drop=False)
        acc = base["accounts"].copy()
        acc["account_id"] = acc["account_id"].str.strip()
        self.accounts = acc.set_index("account_id", drop=False)
        self.k = 0

    def _open_subs(self, started_before: str) -> np.ndarray:
        s = self.subs
        ok = (s["end_date"] == "") & (s["start_date"] < started_before) & (s["is_trial"] == "False")
        return s.index[ok.to_numpy()].to_numpy()

    def next(self) -> dict:
        """Advance one batch; returns its frames, timestamp and build vars."""
        rng = self.rng
        k = self.k
        self.k += 1
        ts = (DAILY_TS0 + timedelta(hours=k)).strftime("%Y-%m-%d %H:%M:%S")

        new_acc_ids = _ids(rng, f"A-{k:x}-", 3)
        new_acc = _account_rows(rng, new_acc_ids, 3, "2025-04-01", "2025-11-30")
        changed_acc = self.accounts.loc[rng.choice(self.accounts.index, 2, replace=False)].copy()
        changed_acc["seats"] = (changed_acc["seats"].astype(int) + 5).astype(str)
        changed_acc["industry"] = rng.choice(INDUSTRIES, 2)
        for df in (new_acc, changed_acc):
            self.accounts = pd.concat([self.accounts.drop(df["account_id"], errors="ignore"), df.set_index("account_id", drop=False)])

        picked = rng.choice(self._open_subs("2025-07-01"), 45, replace=False)
        change, churn, same = picked[:15], picked[15:35], picked[35:]
        rows = []
        upd = self.subs.loc[change].copy()
        factor = rng.choice([0.8, 1.25, 1.5], len(upd))
        mrr = np.round(np.abs(upd["mrr_amount"].astype(float)) * factor + 1.0, 2)
        upd["mrr_amount"], upd["arr_amount"] = _money(mrr), _money(mrr * 12)
        upd["seats"] = (upd["seats"].astype(int) + 1).astype(str)
        upd["upgrade_flag"] = np.where(factor > 1, "True", "False")
        upd["downgrade_flag"] = np.where(factor < 1, "True", "False")
        rows.append(upd)
        ch = self.subs.loc[churn].copy()
        n = len(ch)
        in_window = np.where(np.arange(n) % 2 == 0, rng.choice(MONTH_ENDS, n), rng.choice(MID_MONTHS, n))
        ch["end_date"] = np.where(np.arange(n) < n // 2, in_window, rng.choice(LATE_ENDS, n))
        ch["churn_flag"] = "True"
        ch["auto_renew_flag"] = "False"
        rows.append(ch)
        owners = np.concatenate([new_acc_ids, rng.choice(self.accounts.index.to_numpy(), 12)])
        rows.append(_sub_rows(rng, _ids(rng, f"S-{k:x}-", 10), owners[:10], "2025-10-01", "2025-12-20", 10))
        rows.append(_sub_rows(rng, _ids(rng, f"L-{k:x}-", 5), owners[10:], "2025-06-01", "2025-08-31", 5))
        for df in rows:
            self.subs = pd.concat([self.subs.drop(df["subscription_id"], errors="ignore"), df.set_index("subscription_id", drop=False)])
        # unchanged re-arrivals: same payload after staging's cleaning
        again = self.subs.loc[same].copy()
        again["subscription_id"] = _untrim(rng, again["subscription_id"].to_numpy(object), 0.5)
        again["billing_frequency"] = again["billing_frequency"].str.upper()
        subs = pd.concat(rows + [again], ignore_index=True)
        subs = subs.iloc[rng.permutation(len(subs))]

        tix = _tickets(rng, _ids(rng, f"T-{k:x}-", 5), rng.choice(self.accounts.index.to_numpy(), 5), 5, "2025-11-01", "2025-11-30")
        return {
            "index": k,
            "ts": ts,
            "vars": {"reprocess_months": LATE_REPROCESS_MONTHS},
            "feeds": {
                "accounts": pd.concat([new_acc, changed_acc], ignore_index=True),
                "subscriptions": subs.reset_index(drop=True),
                "support_tickets": tix,
            },
        }

    def write_next(self, out: str) -> dict:
        """Advance one batch and write its CSVs under ``out/``."""
        b = self.next()
        os.makedirs(out, exist_ok=True)
        b["paths"] = {}
        b["csv_bytes"] = 0
        for name, df in b["feeds"].items():
            p = os.path.join(out, f"{name}.csv")
            b["csv_bytes"] += write_csv(df, p)
            b["paths"][name] = p
        return b


# --- operator-suite corpus ------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow big fast sort "
    "merge spark line table window stream agg data vector order value group "
    "the a part index key page cache"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def testdata_frames(seed: int, scale: float = 0.01) -> dict[str, pd.DataFrame]:
    """TPC-H-ish tables + events/documents/embeddings at ``scale`` (sf)."""
    rng = np.random.default_rng([seed, 11])
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_li = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["large", "small", "red", "blue", "hot", "old", "shiny", "green"]
    noun = ["ring", "plate", "widget", "rod", "anvil", "gear", "bolt", "pipe"]
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 1.1, 2),
        }
    )
    day0 = np.datetime64("1995-01-01")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": (day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (pd.Series(l_order).groupby(l_order).cumcount() + 1).to_numpy(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": (day0 + rng.integers(1, 2500, n_li).astype("timedelta64[D]")).astype("datetime64[us]"),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(150, n_ev // 66), n_ev).astype(np.int64),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lengths = rng.integers(10, 100, n_doc)
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), m)]) for m in lengths]
    # a share of near and exact duplicates, as a deduplication corpus has
    for i in np.flatnonzero(rng.random(n_doc) < 0.08)[1:]:
        j = int(rng.integers(0, i))
        texts[i] = texts[j] if i % 3 else texts[j] + " " + _WORDS[i % len(_WORDS)]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.7, (n_emb, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64), "embedding": list(emb), "label": labels})
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_testdata(out: str, seed: int, scale: float = 0.01) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for name, df in testdata_frames(seed, scale).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(1, "embedding", pa.array(df["embedding"].map(list), pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=["feeds", "testdata"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=None)
    ap.add_argument("--batches", type=int, default=0, help="daily batches to write after the feeds")
    args = ap.parse_args()
    if args.kind == "testdata":
        write_testdata(args.out, args.seed, args.scale or 0.01)
        return
    feeds = base_feeds(args.seed, args.scale or 1.0)
    os.makedirs(args.out, exist_ok=True)
    for name, df in feeds.items():
        write_csv(df, os.path.join(args.out, f"{name}.csv"))
    stream = DailyBatches(args.seed, feeds)
    for i in range(args.batches):
        b = stream.write_next(os.path.join(args.out, f"batch_{i:03d}"))
        with open(os.path.join(args.out, f"batch_{i:03d}", "batch.json"), "w") as f:
            json.dump({"ts": b["ts"], "vars": b["vars"]}, f)


if __name__ == "__main__":
    main()
