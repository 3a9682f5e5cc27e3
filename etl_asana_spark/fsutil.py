"""Volume-derived sizing: the one local-filesystem probe and the one clamp.

Every size-gated partition count in the engine (registry shuffle sizing,
streaming state-partition count, multimodal Python-decode fan-out, parquet
compaction) follows the same rule: ``ceil(bytes / per_partition)`` clamped
to ``[floor, cap]``. One definition keeps the unprobeable-path semantics
identical everywhere: a path this local walk cannot see (object store URI,
permission error) yields 0 bytes and the caller keeps its explicit
default — auto-sizing degrades to the pre-r10 behavior, never to an error.
"""

from __future__ import annotations

import math
import os


def local_input_bytes(path: str) -> int:
    """Total on-disk bytes of the file or directory at ``path``.

    Unreadable entries are skipped (a partial total still sizes better
    than nothing); a wholly unprobeable path returns 0, the callers'
    "keep the explicit default" sentinel.
    """
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    except OSError:
        return 0


def volume_partitions(
    total_bytes: float,
    per_partition_bytes: int,
    floor: int,
    cap: float,
    default: int,
) -> int:
    """``max(floor, min(cap, ceil(total_bytes / per_partition_bytes)))``,
    or ``default`` when ``total_bytes <= 0`` (nothing probeable).

    ``floor`` wins over ``cap`` when they cross (e.g. a floor of 2 on a
    1-core session)."""
    if total_bytes <= 0:
        return default
    return max(floor, min(cap, math.ceil(total_bytes / per_partition_bytes)))
