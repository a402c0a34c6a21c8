"""Shipping driver-collected kernel operands to executors.

Dimension-sized matrices (the kNN landmark table) ride into Arrow
kernels either way; the QUESTION is the
transport. Task-closure capture serializes the payload into every
task's launch message — fine for a few hundred KB, pathological past a
few MB (N_tasks copies through the driver's RPC path). Torrent
broadcast (``SparkContext.broadcast``) ships once per EXECUTOR via
BitTorrent-style chunks, the right transport for anything bigger.

``ship_arrays`` picks automatically at a 4 MB threshold, so operators
keep one code path and the contract "broadcast-sized right side" stays
honest as that side grows toward the limit.
"""

from __future__ import annotations

# Above this, task-closure capture becomes per-task RPC traffic; ship
# via torrent broadcast instead (one transfer per executor).
BROADCAST_THRESHOLD_BYTES = 4 << 20


def ship_arrays(spark, *arrays):
    """Return a zero-arg thunk yielding ``arrays`` (as a tuple) inside
    executor tasks.

    Below ``BROADCAST_THRESHOLD_BYTES`` (summed ``nbytes``) the arrays
    are captured in the kernel closure directly; above it they travel
    as ONE torrent broadcast and the thunk dereferences ``bc.value``
    lazily on the executor.
    """
    total = 0
    for a in arrays:
        nbytes = getattr(a, "nbytes", None)
        total += int(nbytes) if nbytes is not None else 0
    if total < BROADCAST_THRESHOLD_BYTES:
        payload = tuple(arrays)
        return lambda: payload
    bc = spark.sparkContext.broadcast(tuple(arrays))
    return lambda: bc.value
