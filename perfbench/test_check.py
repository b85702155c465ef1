"""The independent checker against hand-computed MRR: the three-batch
scenario of FIXTURES.md §6 (B1 full load, B2 SCD2 change + unchanged
re-arrival + reactivation, B3 churn before April's month end).

  python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import SUB_PAYLOAD, connect, expected_mrr, expected_versions  # noqa: E402

SUBS_HDR = (
    "subscription_id,account_id,start_date,end_date,plan_tier,seats,mrr_amount,arr_amount,"
    "is_trial,upgrade_flag,downgrade_flag,churn_flag,billing_frequency,auto_renew_flag"
)
SUB1_V1 = "SUB1,ACC1,2024-01-10,,Pro,10,100.0,1200.0,false,false,false,false,monthly,true"
SUB1_V2 = "SUB1,ACC1,2024-01-10,,Pro,12,120.0,1440.0,false,true,false,false,monthly,true"
SUB1_V3 = "SUB1,ACC1,2024-01-10,2024-04-10,Pro,12,120.0,1440.0,false,true,false,true,monthly,false"
SUB2 = "SUB2,ACC2,2024-01-20,2024-02-29,Basic,5,50.0,600.0,false,false,false,true,monthly,false"
# re-arrival of SUB2 with staging-only differences: padded id, upper case
SUB2_AGAIN = " SUB2,ACC2,2024-01-20,2024-02-29,Basic,5,50.0,600.0,False,False,False,True,MONTHLY,False"
SUB3 = "SUB3,ACC3,2024-01-05,,Basic,2,0.0,0.0,true,false,false,false,monthly,true"
SUB4 = "SUB4,ACC2,2024-03-01,,Pro,6,80.0,960.0,false,false,false,false,annual,true"
SUB5 = "SUB5,ACC1,2024-02-01,2024-02-15,Basic,3,30.0,360.0,false,false,false,true,monthly,false"
# a negative amount counts as 0
SUB6 = "SUB6,ACC3,2024-03-01,,Basic,1,-40.0,-480.0,false,false,false,false,monthly,true"

BATCHES = [
    ("2024-01-15 00:00:00", [SUB1_V1, SUB2, SUB3, SUB5]),
    ("2024-03-15 00:00:00", [SUB1_V2, SUB2_AGAIN, SUB4, SUB6]),
    ("2024-05-15 00:00:00", [SUB1_V3, SUB2, SUB4]),
]
MONTHS = [date(2024, m, 1) for m in range(1, 7)]

# hand-computed end-of-month MRR and active accounts after each batch
EXPECTED = [
    # B1: SUB1 100 from Jan; SUB2 50 through Feb (ends on Feb's last
    # day, so it counts in Feb); SUB3 a trial; SUB5 ends mid-Feb
    {1: (150.0, 2), 2: (150.0, 2), 3: (100.0, 1), 4: (100.0, 1), 5: (100.0, 1), 6: (100.0, 1)},
    # B2: SUB1 now 120 in every month (current truth); SUB4 reactivates
    # ACC2 with 80 from March, after SUB2's Feb-end churn; SUB6's
    # negative amount counts as 0, so ACC3 is not active
    {1: (170.0, 2), 2: (170.0, 2), 3: (200.0, 2), 4: (200.0, 2), 5: (200.0, 2), 6: (200.0, 2)},
    # B3: SUB1 ends 2024-04-10, before April's month end
    {1: (170.0, 2), 2: (170.0, 2), 3: (200.0, 2), 4: (80.0, 1), 5: (80.0, 1), 6: (80.0, 1)},
]


def _write(tmp_path, i: int, rows: list[str]) -> str:
    p = os.path.join(tmp_path, f"b{i}_subscriptions.csv")
    with open(p, "w") as f:
        f.write(SUBS_HDR + "\n" + "\n".join(rows) + "\n")
    return p


def test_expected_mrr_matches_hand_computed(tmp_path):
    con = connect()
    arrivals = []
    for i, (ts, rows) in enumerate(BATCHES):
        arrivals.append((ts, _write(str(tmp_path), i, rows)))
        got = expected_mrr(con, arrivals, MONTHS)
        want = {date(2024, m, 1): v for m, v in EXPECTED[i].items()}
        assert got == want, f"after B{i + 1}"


def test_expected_versions_counts_payload_changes(tmp_path):
    con = connect()
    arrivals = [(ts, _write(str(tmp_path), i, rows)) for i, (ts, rows) in enumerate(BATCHES)]
    keys, versions = expected_versions(con, arrivals, "subscription_id", SUB_PAYLOAD)
    # SUB1 x3 versions, SUB2 x1 (two unchanged re-arrivals), SUB3-6 x1
    assert (keys, versions) == (6, 8)
