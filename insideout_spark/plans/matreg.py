"""Per-producer materialization registry (r06, guide §5 driver memory).

The one place that records and releases per-call materializations on a
hot query path: a persisted frame that several consumers in one plan
share (signature and fingerprint frames, gram and segment frames, kNN
round aggregates, the global_ordinals range frame) or an explicit
driver-built broadcast. Each is registered under its producer's key and
released when the SAME producer runs again, so one key holds at most
one call's objects. Three calls:

- `release(key)`: unpersist and forget everything under `key`.
- `keep(key, obj)`: register `obj` under `key`, next to what is there.
- `supersede(key, obj)`: `release(key)`, then `keep(key, obj)`.

Why: localCheckpoint/broadcast blocks are otherwise freed only when the
ContextCleaner notices the Python proxy was garbage-collected, which in
a long benchmark or pipeline session lags by many queries. Measured at
sf1.0 on local[32]/8g: repeated dedup_components runs degraded
10.3 s -> 45.0 s -> 54.4 s as superseded block sets (gram frames, pair
checkpoints, rescore matrices — hundreds of MB each) piled up in the
local-mode heap and every stage paid the GC bill. With explicit
supersede-release the walls are flat across repetitions.

Safety: registered frames are persist()-ed (lineage kept), never
checkpointed, so a release is always correct — any late consumer
silently recomputes from lineage instead of reading freed blocks.
Broadcasts are released with unpersist() (re-broadcastable on next
use), never destroy(). An unpersist that raises — an entry left by a
SparkContext that has since been stopped, whose blocks died with it —
is dropped all the same.
"""

from __future__ import annotations

_REG: dict[str, list] = {}


def release(key: str) -> None:
    """Unpersist everything registered under `key` and forget it."""
    for obj in _REG.pop(key, []):
        try:
            obj.unpersist()
        except Exception:  # session already stopped
            pass


def keep(key: str, obj):
    """Register `obj` (a persisted DataFrame or a Broadcast — anything
    with .unpersist()) under `key`. Returns `obj`."""
    _REG.setdefault(key, []).append(obj)
    return obj


def supersede(key: str, obj):
    """Release everything previously registered under `key`, then
    register `obj`. Returns `obj`."""
    release(key)
    return keep(key, obj)
