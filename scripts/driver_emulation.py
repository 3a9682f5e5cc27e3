"""Plain-session driver emulation: run the gate the way the DRIVER runs it.

Usage:  python scripts/driver_emulation.py [sf_dir] [--prefix N]

Differences from scripts/sweep.py (the strict local mirror):
- the SparkSession is built with NO engine confs at all — exactly the driver's
  session shape (``SparkSession.builder.master(...)``, default 200 shuffle
  partitions, no nanosAsLong/UTC settings). The registry must self-apply every
  runtime conf it needs; a key that only passes under sweep.py's tuned session
  would be red at the external gate.
- the smoke check and the key order come from ``__spark_entry__`` (the
  literal driver import surface).
- ``--prefix N`` runs only the first N rotation-ordered keys — the projected
  budgeted prefix the external gate will verify next round. Pre-verifying that
  exact prefix is the round's first closing gate (VERDICT r04 next-round #1).

Each key is judged by ``testing.check_query``, the comparator sweep.py and
the tests use, so a pass here means the same thing it means there.

Exits non-zero on any failure.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    prefix = None
    args = list(sys.argv[1:])
    if "--prefix" in args:
        i = args.index("--prefix")
        prefix = int(args[i + 1])
        # consume the VALUE too — it must not leak into the positional
        # sf_dir (running `--prefix 50` otherwise reads sf_dir="50")
        del args[i : i + 2]
    argv = [a for a in args if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    # The driver's session: plain. No shuffle-partition tuning, no parquet
    # nanos conf, no timezone pin. Anything the engine needs must come from
    # registry.load_tables' self-applied confs.
    spark = SparkSession.builder.master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod  # noqa: E402

    from etl_asana_spark.testing import check_query, duckdb_connect  # noqa: E402

    smoke = entry_mod.entry(spark)
    n_smoke = smoke.count()
    print(f"entry() smoke: {n_smoke} rows, schema {[f.name for f in smoke.schema]}")
    if n_smoke <= 0:
        print("FAIL entry() returned no rows")
        return 1

    keys = list(entry_mod.queries())
    if prefix is not None:
        keys = keys[:prefix]
    con = duckdb_connect(sf_dir)

    n_fail = 0
    total_t = 0.0
    for i, key in enumerate(keys):
        t0 = time.perf_counter()
        try:
            problems = check_query(spark, con, key, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"{type(exc).__name__}: {exc}"]
        dt = time.perf_counter() - t0
        total_t += dt
        if problems:
            n_fail += 1
            print(f"FAIL [{i:3d}] {key:32s} {dt:6.2f}s  {'; '.join(problems)}")
        else:
            print(f"PASS [{i:3d}] {key:32s} {dt:6.2f}s")
    print(f"\n{len(keys)} keys, {n_fail} failures, {total_t:.1f}s total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
