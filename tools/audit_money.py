"""Clean-money contract audit (VERDICT r11 item 6).

The scaled-long aggregation path in plans/relational.py assumes every money
double is an exact 2-decimal quantity, so that round(x*100) as BIGINT is the
exact cent value (bit-identical to the old per-row DECIMAL(12,4) cast). This
tool verifies that assumption offline over every committed data tier: for
each money column it reports max |x*100 - round(x*100)| and the count of
rows past the bound (max(1e-6, |x*100| * 1e-15)). Exit 1 on any violation.

The runtime twin is SPARK_GRAFT_MONEY_AUDIT=1 (plans/relational.py::_cents),
which raises per offending row in verify/debug runs.

Usage: python tools/audit_money.py [dir ...]   (default: all known tiers)
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb

# same magnitude-aware bound as plans/relational.py::_cents
EPS = 1e-6
REL_EPS = 1e-15

# (table, column) pairs consumed by the scaled-long path. events.value is
# included for the integer-cents time-series family (engine and oracle both
# round there, so it is convention-consistency rather than a correctness
# gate -- still worth knowing if a tier ships 3-decimal values).
MONEY_COLS = [
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("lineitem", "l_quantity"),
    ("events", "value"),
]

DEFAULT_TIERS = sorted(
    glob.glob("/root/testdata/sf*")
    + glob.glob(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "sf*"))
)


def main(argv: list[str] | None = None) -> int:
    tiers = (sys.argv[1:] if argv is None else argv) or DEFAULT_TIERS
    con = duckdb.connect()
    bad = 0
    for tier in tiers:
        for table, col in MONEY_COLS:
            path = os.path.join(tier, f"{table}.parquet")
            if not os.path.exists(path):
                continue
            row = con.execute(
                f"""
                SELECT COUNT(*) AS n,
                       MAX(ABS({col} * 100 - ROUND({col} * 100))) AS max_resid,
                       SUM(CASE WHEN ABS({col} * 100 - ROUND({col} * 100))
                                     > GREATEST({EPS}, ABS({col} * 100) * {REL_EPS})
                                THEN 1 ELSE 0 END) AS n_bad
                FROM '{path}' WHERE {col} IS NOT NULL
                """
            ).fetchone()
            n, max_resid, n_bad = row
            status = "OK  " if not n_bad else "BAD "
            if n_bad:
                bad += 1
            print(
                f"{status} {tier}/{table}.{col}: rows={n} "
                f"max_resid={max_resid if max_resid is not None else 0:.3e} "
                f"violations={n_bad or 0}"
            )
    print(f"\n{bad} violating (tier, column) pairs; eps=max({EPS}, |x*100|*{REL_EPS})")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
