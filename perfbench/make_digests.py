"""Write ``oracle_digests.json``: for every analytics query, the row count and
digest of its DuckDB oracle's output over the committed sf0.1 input, with
the hash of the oracle SQL it came from.

    python3 perfbench/make_digests.py

Run from the root of a checkout; it takes under a minute.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from checks import DIGESTS, connect, frame_digest, sql_hash  # noqa: E402
from inputs import DAY0_DIR  # noqa: E402
from workloads import Analytics  # noqa: E402


def main() -> int:
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    out = {}
    for name in Analytics.QUERIES:
        sql = REGISTRY[name].oracle
        t0 = time.perf_counter()
        con = connect(DAY0_DIR)
        pdf = con.sql(sql).df()
        out[name] = {"oracle_sql_sha256": sql_hash(sql), **frame_digest(pdf)}
        print(f"{name}: {out[name]['rows']} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(DIGESTS, "w") as f:
        json.dump({"input": os.path.relpath(DAY0_DIR, os.path.dirname(HERE)), "queries": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
