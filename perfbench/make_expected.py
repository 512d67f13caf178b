"""Rebuild the batch_mix expected answers from the DuckDB oracles.

The batch_mix fixture (``data/sf0.01``) never changes, so each query's
oracle answer is computed once, here, and stored as ``expected/<query>.parquet``.
Run from the repository root after changing the fixture or a query's
oracle SQL:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from batch_mix import FIXTURE_DIR, QUERIES  # noqa: E402
from realtime_twitter_trends_analytics_spark.registry import all_oracles  # noqa: E402
from realtime_twitter_trends_analytics_spark.sources.loaders import TABLES  # noqa: E402


def main() -> int:
    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE_DIR}/{t}.parquet')")
    out_dir = os.path.join(HERE, "expected")
    os.makedirs(out_dir, exist_ok=True)
    for name in QUERIES:
        t0 = time.time()
        pdf = con.execute(oracles[name]).fetchdf()
        pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        print(f"{name}: {len(pdf)} rows in {time.time() - t0:.1f} s", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
