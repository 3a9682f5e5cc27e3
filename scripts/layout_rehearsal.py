"""Physical-layout invariance rehearsal: same logical tables, hostile layout.

The engine's contract is to bind to column NAMES and LOGICAL types — never to
physical layout. A user's parquet will not look like the driver's testdata:
different writers permute column order, choose their own row-group sizes,
compression codecs, and encodings. This rehearsal rewrites every table with
pyarrow preserving logical schema and values EXACTLY while perturbing every
physical knob at once:

- column order permuted (seeded, per table);
- row groups forced tiny and odd (997 rows) — many row groups per file, the
  shape that exposes row-group-boundary bugs in predicate pushdown and
  min/max pruning on both engines;
- zstd instead of snappy;
- dictionary encoding disabled (PLAIN pages).

Then the FULL catalog runs against the rewritten directory via
``scripts/sweep.py`` — both Spark and the DuckDB oracle read the same
rewritten files, so every key's hash compare is a true layout-invariance
check. The rewritten dir's basename is never the gate-scale name, so sweep's
cost snapshot is untouched.

Usage:  python scripts/layout_rehearsal.py [src_sf_dir] [--keep]
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_asana_spark.registry import TABLE_NAMES  # noqa: E402


def rewrite(src: str, dst: str, seed: int = 42) -> None:
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(dst, exist_ok=True)
    for name in TABLE_NAMES:
        t = pq.read_table(f"{src}/{name}.parquet")
        cols = list(t.column_names)
        rng.shuffle(cols)
        pq.write_table(
            t.select(cols),
            f"{dst}/{name}.parquet",
            row_group_size=997,
            compression="zstd",
            use_dictionary=False,
        )
        print(f"rewrote {name}: cols {cols[:3]}..., "
              f"{t.num_rows} rows -> 997-row groups, zstd, no-dict")


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    keep = "--keep" in sys.argv
    dst = tempfile.mkdtemp(prefix="layout_rehearsal_")
    try:
        rewrite(src, dst)
        print(f"\nsweeping full catalog against {dst} ...", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "sweep.py"), dst],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        return proc.returncode
    finally:
        if keep:
            print(f"kept {dst}")
        else:
            shutil.rmtree(dst, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
