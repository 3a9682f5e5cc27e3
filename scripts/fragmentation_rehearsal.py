"""Physical-invariance rehearsal: the same logical tables in a hostile
physical form, then the full catalog against them.

The engine's contract is to bind to column NAMES and LOGICAL types — never
to physical layout, file count or row order. A user's parquet will not look
like the driver's testdata (one tidy file per table), so this script
rewrites every table, preserving the logical schema and the multiset of
rows EXACTLY, in one of two modes:

- **fragmentation** (default) — each table becomes a DIRECTORY
  ``{name}.parquet/`` of N seeded row-slice part files (N scaled to table
  size; part boundaries are odd on purpose). A 100 TB table arrives as
  hundreds-to-thousands of part files written by many tasks, and Spark's
  scan splits, file-listing order and partition coalescing all change with
  file count: no key's answer may depend on it. With ``--shuffle`` the
  rows are first permuted by a seeded ``random.Random`` shuffle, so
  row-order hazards compound (a ``first()`` without a total ordering, a
  LIMIT without tie-free sort keys, an aggregation whose "arbitrary" pick
  happens to be stable on single-file input).
- **layout** (``--layout``) — one file per table with every physical knob
  perturbed at once: column order permuted (seeded, per table); row groups
  forced tiny and odd (997 rows), the shape that exposes
  row-group-boundary bugs in predicate pushdown and min/max pruning on
  both engines; zstd instead of snappy; dictionary encoding disabled
  (PLAIN pages).

Then ``scripts/sweep.py`` runs every key against the rewritten directory.
Spark and the DuckDB oracle (which reads a fragmented directory via a
glob, see ``testing.duckdb_connect``) read the same rewritten files, so
every key's hash compare is a true invariance check. The rewritten dir's
basename is never the gate-scale name, so sweep's cost snapshot is
untouched. The rewrite is deleted afterwards unless ``--keep`` is given.

Usage:  python scripts/fragmentation_rehearsal.py [src_sf_dir]
            [--shuffle | --layout] [--keep]
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


def rewrite_fragmented(src: str, dst: str, *, shuffle: bool, seed: int = 4242) -> None:
    import pyarrow.parquet as pq

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


def rewrite_layout(src: str, dst: str, seed: int = 42) -> None:
    import pyarrow.parquet as pq

    rng = random.Random(seed)
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
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = argv[0] if argv else "/root/testdata/sf0.01"
    shuffle = "--shuffle" in sys.argv
    layout = "--layout" in sys.argv
    keep = "--keep" in sys.argv
    if shuffle and layout:
        print("--shuffle applies to the fragmentation mode, not --layout",
              file=sys.stderr)
        return 2
    dst = tempfile.mkdtemp(prefix="layout_rehearsal_" if layout else "frag_rehearsal_")
    try:
        if layout:
            rewrite_layout(src, dst)
        else:
            rewrite_fragmented(src, dst, shuffle=shuffle)
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
