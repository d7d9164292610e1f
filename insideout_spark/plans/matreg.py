"""Per-producer materialization registry (r06, guide §5 driver memory).

Every eager per-call materialization on a hot query path — a persisted
frame that several consumers in one plan share, or an explicit
driver-built broadcast — is registered under its producer's key and
released when the SAME producer runs again (the signature-cache
supersede contract from webtext.release_signature_caches, generalized).

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
use), never destroy().
"""

from __future__ import annotations

_REG: dict[str, list] = {}


def supersede(key: str, obj):
    """Release everything previously registered under `key`, then
    register `obj` (a persisted DataFrame or a Broadcast — anything
    with .unpersist()). Returns `obj`."""
    old = _REG.setdefault(key, [])
    while old:
        o = old.pop()
        try:
            o.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    old.append(obj)
    return obj
