"""Driver-contract dry run: execute the first-50 graded gates through
``__spark_entry__.queries()`` on a VANILLA SparkSession — the session
shape the correctness driver actually uses (stock confs, local[8]) —
so any conf the engine needs (e.g. nanosAsLong for the events table)
must self-apply via ``tune_for_local`` inside the wrappers, not via
our tuned builder. One session for all gates, like the driver.

Usage: python tools/vanilla_gate_dryrun.py [sf_dir] [n]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()

    import __spark_entry__ as entry_mod

    rows = entry_mod.entry(spark).collect()
    assert rows, "entry() returned no rows on a vanilla session"
    print(f"entry(): {len(rows)} rows (vanilla session)")

    qmap = entry_mod.queries()
    names = list(qmap)[:n]
    ok = 0
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        cnt = qmap[name](spark, sf_dir).count()
        ok += 1
        print(f"[{i:2}/{len(names)}] {name}: {cnt} rows "
              f"[{time.perf_counter() - t0:.1f}s]", flush=True)
    print(f"{ok}/{len(names)} graded gates ran green on the vanilla session")


if __name__ == "__main__":
    main()
