"""File-granularity + row-order invariance rehearsal: fragmented tables.

The driver's testdata is one tidy parquet file per table. A 100 TB table is
not: it arrives as hundreds-to-thousands of part files, written by many
tasks, with no meaningful global row order. Two invariances must hold and
are NOT implied by the physical-layout rehearsal (which kept one file per
table and preserved row order):

- **file-count invariance** — no key's answer may depend on how many files a
  table is split across (Spark's scan splits, file-listing order, and
  partition coalescing all change with file count);
- **row-order invariance** (``--shuffle``) — no key may lean on the incoming
  row order of the testdata (a ``first()`` without a total ordering, a LIMIT
  without tie-free sort keys, an aggregation whose "arbitrary" pick happens
  to be stable on single-file input would all surface here).

Each table is rewritten as a DIRECTORY ``{name}.parquet/`` of N seeded
row-slice part files (N scaled to table size; part boundaries are odd on
purpose). With ``--shuffle`` the rows are first permuted by a seeded
``random.Random`` shuffle, so both hazards compound. Logical schema and the
multiset of rows are preserved EXACTLY — so every key's
hash-compare against the DuckDB oracle (which reads the same fragmented
directory via a glob, see ``testing.duckdb_connect``) is a true invariance
check.

The rewritten dir's basename is never the gate-scale name, so sweep's cost
snapshot is untouched.

Usage:  python scripts/fragmentation_rehearsal.py [src_sf_dir] [--shuffle] [--keep]
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


def _n_parts(num_rows: int) -> int:
    """Deliberately many, deliberately odd: ~1 part per 500 rows, capped at
    97, floor 3 — even a 5-row dim table becomes a multi-file directory."""
    return max(3, min(97, num_rows // 500 or 3))


def rewrite(src: str, dst: str, *, shuffle: bool, seed: int = 4242) -> None:
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for name in TABLE_NAMES:
        t = pq.read_table(f"{src}/{name}.parquet")
        # Cross-process-stable seed: tuple.__hash__ salts str hashing per
        # process (PYTHONHASHSEED), which made a failing layout impossible to
        # reproduce by re-running with the same seed. random.Random(str) goes
        # through SHA-512 and is stable everywhere.
        rng = random.Random(f"{seed}:{name}")
        if shuffle:
            idx = list(range(t.num_rows))
            rng.shuffle(idx)
            t = t.take(idx)
        n = _n_parts(t.num_rows)
        # odd, seeded slice boundaries — equal-size splits would hide
        # bugs that only bite on ragged final/empty-ish parts
        cuts = sorted(rng.sample(range(1, t.num_rows), min(n - 1, max(t.num_rows - 1, 0))))
        bounds = [0, *cuts, t.num_rows]
        table_dir = f"{dst}/{name}.parquet"
        os.makedirs(table_dir, exist_ok=True)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(t.slice(lo, hi - lo), f"{table_dir}/part-{i:05d}.parquet")
        print(f"rewrote {name}: {t.num_rows} rows -> {len(bounds) - 1} part files"
              f"{' (rows shuffled)' if shuffle else ''}")


def main() -> int:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = argv[0] if argv else "/root/testdata/sf0.01"
    shuffle = "--shuffle" in sys.argv
    keep = "--keep" in sys.argv
    dst = tempfile.mkdtemp(prefix="frag_rehearsal_")
    try:
        rewrite(src, dst, shuffle=shuffle)
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
