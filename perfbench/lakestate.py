"""What a commit did, read from `LakeTable.metadata` snapshots.

Batch kinds come from metadata diffs only, never from a time threshold:
  fresh    bases written for buckets that held no data
  delta    delta files appended to buckets whose base stayed
  cow      bases rewritten, no delta appended in the same commit
  hybrid   bases rewritten and deltas appended in one commit
A batch is "compact" when it rewrote at least one existing bucket base
(cow or hybrid) and "append" when it only appended deltas.
"""

from __future__ import annotations

import os


def _rels(meta: dict) -> set[str]:
    rels = set(meta["buckets"].values())
    for r in meta.get("deltas", {}).values():
        rels.update(r)
    return rels


def _has_data(meta: dict, b: str) -> bool:
    return b in meta["buckets"] or bool(meta.get("deltas", {}).get(b))


def diff(m0: dict, m1: dict) -> dict:
    """Classify the commits between two snapshots of one table."""
    fresh = rewritten = appended_buckets = appended_files = 0
    for b in sorted(set(m1["buckets"]) | set(m1.get("deltas", {}))):
        base0, base1 = m0["buckets"].get(b), m1["buckets"].get(b)
        d0 = m0.get("deltas", {}).get(b, [])
        d1 = m1.get("deltas", {}).get(b, [])
        if base1 is not None and base1 != base0:
            if _has_data(m0, b):
                rewritten += 1
            else:
                fresh += 1
        new_deltas = [r for r in d1 if r not in d0]
        if new_deltas:
            appended_buckets += 1
            appended_files += sum(
                len(m1.get("stats", {}).get(r, {}).get(b, {})) or 1
                for r in new_deltas
            )
    files = nbytes = 0
    stats = m1.get("stats", {})
    for rel in _rels(m1) - _rels(m0):
        for entries in stats.get(rel, {}).values():
            files += len(entries)
            nbytes += sum(e["size"] for e in entries.values())
    if rewritten and appended_buckets:
        mode = "hybrid"
    elif rewritten:
        mode = "cow"
    elif appended_buckets:
        mode = "delta"
    elif fresh:
        mode = "fresh"
    else:
        mode = "none"
    return {
        "mode": mode,
        "kind": "compact" if rewritten else (
            "append" if appended_buckets else mode),
        "buckets_rewritten": rewritten,
        "delta_files_appended": appended_files,
        "files_written": files,
        "bytes_written": nbytes,
    }


def debt(meta: dict) -> tuple[int, int]:
    """(buckets carrying deltas, live delta files) of one snapshot."""
    deltas = meta.get("deltas", {})
    dirty = [b for b, r in deltas.items() if r]
    files = sum(
        len(meta.get("stats", {}).get(rel, {}).get(b, {})) or 1
        for b in dirty
        for rel in deltas[b]
    )
    return len(dirty), files


def changed_buckets(m0: dict, m1: dict) -> int:
    """Buckets whose base or delta list differs: what changes() reads."""

    def sig(m, b):
        return m["buckets"].get(b), tuple(m.get("deltas", {}).get(b, []))

    every = set(m0["buckets"]) | set(m1["buckets"]) | set(
        m0.get("deltas", {})) | set(m1.get("deltas", {}))
    return sum(1 for b in every if sig(m0, b) != sig(m1, b))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def data_bytes(path: str) -> int:
    """Parquet bytes under a directory."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if f.endswith(".parquet")
        )
    return total
