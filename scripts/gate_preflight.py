"""Pre-flight the driver's correctness window locally.

Drives __spark_entry__ exactly like the external driver: entry() smoke,
then the first N entries of queries() (the driver's per-round budget
lands on a prefix of the registry order) compared against oracle_sql()
via DuckDB at sf0.01.  Run before a round closes so the hard gate's
window -- sentinels, last round's red entries, and the stale tail the
rotation fronts -- is known-green in advance.

Usage: python scripts/gate_preflight.py [N] [START]   (default 52 0;
START slices deeper into the ordering -- e.g. `110 50` pre-checks the
NEXT rotation's stale tail before the driver ever reaches it)
"""

from __future__ import annotations

import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import __spark_entry__ as e  # noqa: E402
from postgresql_datawarehouse_excercise_spark import session  # noqa: E402
from tests.oracle_harness import compare, duck_connect  # noqa: E402

SF = "/root/testdata/sf0.01"


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 52
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    spark = session.get_spark("pdwx-gate", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = e.entry(spark).collect()
    assert len(rows) >= 1, "entry() smoke failed"
    print(f"entry smoke OK ({len(rows)} rows)", flush=True)

    qs, osql = e.queries(), e.oracle_sql()
    con = duck_connect(SF)
    failed = []
    for i, name in enumerate(list(qs)[start:n], start=start):
        t0 = time.perf_counter()
        try:
            compare(qs[name](spark, SF), con, osql[name])
            status = "OK"
        except Exception as ex:  # noqa: BLE001
            status = f"FAIL: {ex}"
            failed.append(name)
        print(f"{i:3d} {name}: {status} [{time.perf_counter() - t0:.1f}s]",
              flush=True)
    if failed:
        sys.exit(f"{len(failed)} FAILED: {failed}")
    print(f"all entries [{start}:{n}) green at sf0.01")


if __name__ == "__main__":
    main()
