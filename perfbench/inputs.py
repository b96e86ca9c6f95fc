"""Seeded input generation for the benchmark workloads.

Every input is a function of the workload's parameters and `--seed` only,
built in plain Python with the binlog shape of `mariadb_cdc_spark.gen` (the
same waves, positions, bitmaps and control events) and landed as parquet
with pyarrow before the Spark session does any work. Generating inside the
JVM costs ~15 s of a cold session per run, a quarter of the whole run. The
engine only ever sees the landed files. Inputs are
cached per parameter set under the benchmark's scratch directory, so a
repeated seed skips generation.

Slices are cut by binlog position at quantile bounds of the events'
(file, position) order.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so stale cache entries are ignored.
GEN_VERSION = 2

LANGS = ["py", "go", "rs", "js", "c", "java"]
REPO_COLUMNS = ["repo", "path", "commit", "lang", "content"]
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, as gen.BASE_EPOCH
EVENTS_PER_FILE = 4096
N_GEN_BUCKETS = 64


def _arrow_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from mariadb_cdc_spark.schema import EVENT_SCHEMA

    return to_arrow_schema(EVENT_SCHEMA)


def cache_dir(scratch: str, kind: str, params: dict) -> str:
    tag = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    return os.path.join(scratch, "inputs", f"{kind}-v{GEN_VERSION}-{tag}")


def _cached(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _event(**kw) -> dict:
    return {"server_id": 1, **kw}


def land_slices(events: list[dict], fractions: list[float], path: str,
                meta: dict) -> dict:
    """Sort events by (file, position), cut them at the given cumulative
    quantiles and land each slice as one parquet file `s<i>.parquet`."""
    events.sort(key=lambda e: (e["binlog_file"], e["binlog_pos"]))
    n = len(events)
    cuts = [0] + [int(round(f * n)) for f in fractions] + [n]
    schema = _arrow_schema()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    slices = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        rows = events[a:b]
        for e in rows:
            for c in ("rows_before", "rows_after"):
                if e.get(c) is not None:
                    e[c] = [list(m.items()) for m in e[c]]
        f = os.path.join(path, f"s{i:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), f)
        slices.append({"file": f, "events": len(rows)})
    meta = {**meta, "slices": slices}
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, "meta.json"))
    return meta


# -------------------------------------------------------------- repo_files
def _hash64(*parts: str, salt: str = "") -> int:
    """gen._hash64: md5 of the \\x1f-joined parts, first 60 bits."""
    return int(hashlib.md5("\x1f".join((salt,) + parts).encode()).hexdigest()[:15], 16)


def repo_rows(seed: int, n_keys: int) -> list[dict]:
    """codehub.repo_files rows derived from sha256(seed, id); content
    is 0.1-0.5 KB per row."""
    out = []
    for i in range(n_keys):
        h = hashlib.sha256(f"{seed}|{i}".encode()).hexdigest()
        h2 = hashlib.sha512(h.encode()).hexdigest()
        out.append({
            "repo": f"repo_{int(h[:6], 16) % 61}",
            "path": f"src/{h[6:8]}/f{i}.txt",
            "commit": h2[:40],
            "lang": LANGS[int(h[10:12], 16) % len(LANGS)],
            "content": "\n".join([h2] * (int(h[8:10], 16) % 4 + 1)),
        })
    return out


def repo_events(rows: list[dict]) -> list[dict]:
    """The codehub.repo_files binlog gen.generate_events builds (4 rows
    per event, minimal-image wave, deletes, re-inserts, XID commits,
    heartbeats, per-file FORMAT_DESCRIPTION/ROTATE/TABLE_MAP, BEGIN QUERY
    per transaction and one unrelated DDL per file)."""
    cap = len(rows) + 2
    changes = []  # (wave, bucket, h3, repo, path, op, before, after)
    for r in rows:
        kh = _hash64(r["repo"], r["path"])
        gate = kh % 100
        full0 = dict(r)
        commit2 = (hashlib.md5(r["commit"].encode()).hexdigest() + r["commit"])[:40]
        full1 = {**r, "content": r["content"] + "\n// rev 2", "commit": commit2}
        ops = [(0, "INSERT", None, full0)]
        if gate < 60:
            ops.append((1, "UPDATE", full0, full1))
        if gate < 35:
            ops.append((2, "UPDATE", {"repo": r["repo"], "path": r["path"]},
                        {"content": r["content"] + "\n// rev 3"}))
        if gate < 15:
            ops.append((3, "DELETE", full1 if gate < 60 else full0, None))
        if gate < 5:
            ops.append((4, "INSERT", None,
                        {**r, "content": r["content"] + "\n// resurrected"}))
        for wave, op, before, after in ops:
            h3 = _hash64(r["repo"], r["path"], str(wave), salt="seq")
            changes.append((wave, kh % N_GEN_BUCKETS, h3, r["repo"], r["path"],
                            op, before, after))
    changes.sort(key=lambda c: c[:5])
    groups: dict = {}
    rn = 0
    prev = None
    for wave, bucket, _, _, _, op, before, after in changes:
        rn = rn + 1 if prev == (wave, bucket) else 1
        prev = (wave, bucket)
        slot = (wave * N_GEN_BUCKETS + bucket) * cap + rn
        groups.setdefault((wave, bucket, op, (rn - 1) // 4), []).append(
            (slot, before, after))
    etype = {"INSERT": "WRITE_ROWS", "UPDATE": "UPDATE_ROWS", "DELETE": "DELETE_ROWS"}
    all_true = [True] * 5
    events = []
    files = set()
    for (wave, _, op, _), rs in groups.items():
        slot = max(s for s, _, _ in rs)
        f = f"bin.{slot // EVENTS_PER_FILE + 1:06d}"
        pos = (slot % EVENTS_PER_FILE + 1) * 256
        ts = dt.datetime.fromtimestamp(BASE_EPOCH + slot, dt.timezone.utc)
        files.add(f)
        minimal = wave == 2
        events.append(_event(
            binlog_file=f, binlog_pos=pos, event_type=etype[op], ts=ts,
            gtid=f"0-1-{slot}", table_id=101,
            columns_used=[True, True, False, False, False] if minimal else all_true,
            update_columns_used=(
                ([False] * 4 + [True] if minimal else all_true)
                if op == "UPDATE" else None),
            rows_before=[b for _, b, _ in rs] if op != "INSERT" else None,
            rows_after=[a for _, _, a in rs] if op != "DELETE" else None,
        ))
        k = pos // 256
        if k % 5 == 0:
            events.append(_event(
                binlog_file=f, binlog_pos=pos + 17, event_type="XID", ts=ts,
                gtid=f"0-1-{slot}", xid=_hash64(f"0-1-{slot}", salt="xid")))
        if k % 97 == 3:
            events.append(_event(binlog_file=f, binlog_pos=pos + 29,
                                 event_type="HEARTBEAT", ts=ts))
        if k % 5 == 1:
            events.append(_event(binlog_file=f, binlog_pos=pos - 101,
                                 event_type="QUERY", ts=ts, sql="BEGIN"))
    t0 = dt.datetime.fromtimestamp(BASE_EPOCH, dt.timezone.utc)
    for f in sorted(files):
        events += [
            _event(binlog_file=f, binlog_pos=0, event_type="FORMAT_DESCRIPTION", ts=t0),
            _event(binlog_file=f, binlog_pos=1, event_type="ROTATE", ts=t0,
                   rotate_file=f, rotate_pos=4),
            _event(binlog_file=f, binlog_pos=2, event_type="TABLE_MAP", ts=t0,
                   table_id=101, database="codehub", table="repo_files",
                   column_types=[15] * 5, column_names=REPO_COLUMNS),
            _event(binlog_file=f, binlog_pos=5, event_type="QUERY", ts=t0,
                   sql="alter table otherdb.audit_mirror add column note varchar(32)"),
        ]
    return events


def repo_stream_inputs(scratch: str, seed: int, n_keys: int,
                       catchup_fraction: float, n_small: int) -> dict:
    """One backlog slice holding the first `catchup_fraction` of binlog
    order, then `n_small` equal slices."""
    params = {"seed": seed, "n_keys": n_keys, "catchup": catchup_fraction,
              "n_small": n_small}
    path = cache_dir(scratch, "repo", params)
    meta = _cached(path)
    if meta is not None:
        return meta
    step = (1.0 - catchup_fraction) / n_small
    fractions = [catchup_fraction + i * step for i in range(n_small)]
    events = repo_events(repo_rows(seed, n_keys))
    return land_slices(events, fractions, path, {"params": params})


# ------------------------------------------------------------------ typed
def typed_doc_ids(seed: int, n_docs: int) -> list[int]:
    """A seeded, sorted set of distinct doc ids below 10^7."""
    return sorted(random.Random(seed).sample(range(1, 10_000_000), n_docs))


def _wire_map(doc_id: int, updated: bool, subset: list[str] | None) -> dict:
    """Hex wire images of gen._typed_logical, as gen.generate_typed_events
    encodes them."""
    from mariadb_cdc_spark import gen
    from mariadb_cdc_spark.functions import typedec as td

    lv = gen._typed_logical(doc_id, updated)
    enc = {
        "id": lambda: td.encode_int(lv["id"], 8),
        "price": lambda: td.encode_newdecimal(lv["price"], 12, 4),
        "updated_at": lambda: td.encode_datetime2(lv["updated_at"], 3),
        "flags": lambda: td.encode_bit(lv["flags"], 8),
        "ratio": lambda: td.encode_double(lv["ratio"]),
        "status": lambda: td.encode_enum(1 + doc_id % 2, 1),
        "tags": lambda: td.encode_set(lv["tags_mask"], 1),
        "created": lambda: td.encode_date(lv["created"]),
        "dur": lambda: td.encode_time2(lv["dur"], 0),
        "seen_at": lambda: td.encode_timestamp2(lv["seen_at"], 0),
        "name": lambda: td.encode_varchar(lv["name"], 40),
        "title": lambda: td.encode_string(lv["title"], gen.TYPED_STRING_PACKED_META),
        "payload": lambda: td.encode_blob(lv["payload"], 2),
        "attrs": lambda: td.encode_blob(lv["attrs"].encode("utf-8"), 4),
        "label": lambda: td.encode_varchar(lv["label"], 80, "latin1"),
    }
    return {c: enc[c]().hex() for c in (subset or gen.TYPED_COLUMNS)}


def typed_events(ids: list[int]) -> list[dict]:
    """The codehub.metrics binlog gen.generate_typed_events builds: a
    full-image INSERT wave in typ.000001, a minimal-image UPDATE wave
    (doc_id % 5 < 2: PK before, price + updated_at after) in typ.000002,
    one TABLE_MAP per file with the wire metadata."""
    from mariadb_cdc_spark import gen

    cols = gen.TYPED_COLUMNS
    t0 = dt.datetime.fromtimestamp(BASE_EPOCH, dt.timezone.utc)
    events = []
    for d in ids:
        events.append(_event(
            binlog_file="typ.000001", binlog_pos=d * 256 + 64,
            event_type="WRITE_ROWS", ts=t0, table_id=gen.TYPED_TABLE_ID,
            columns_used=[True] * len(cols),
            rows_after=[_wire_map(d, False, None)]))
        if d % 5 < 2:
            events.append(_event(
                binlog_file="typ.000002", binlog_pos=d * 256 + 64,
                event_type="UPDATE_ROWS", ts=t0, table_id=gen.TYPED_TABLE_ID,
                columns_used=[c == "id" for c in cols],
                update_columns_used=[c in ("price", "updated_at") for c in cols],
                rows_before=[_wire_map(d, False, ["id"])],
                rows_after=[_wire_map(d, True, ["price", "updated_at"])]))
    for f in ("typ.000001", "typ.000002"):
        events.append(_event(
            binlog_file=f, binlog_pos=2, event_type="TABLE_MAP", ts=t0,
            table_id=gen.TYPED_TABLE_ID, database=gen.MAIN_DATABASE,
            table=gen.TYPED_TABLE, column_types=gen.TYPED_COLUMN_TYPES,
            column_names=cols, column_metadata=gen.TYPED_COLUMN_METADATA,
            column_enum_values=gen.TYPED_ENUM_VALUES,
            column_charsets=gen.TYPED_COLUMN_CHARSETS))
    return events


def typed_inputs(scratch: str, seed: int, n_docs: int, n_update: int) -> dict:
    """Slice 0 is typ.000001 (the insert wave); the update wave is cut into
    `n_update` position-ordered slices."""
    params = {"seed": seed, "n_docs": n_docs, "n_update": n_update}
    path = cache_dir(scratch, "typed", params)
    meta = _cached(path)
    if meta is not None:
        return meta
    ids = typed_doc_ids(seed, n_docs)
    events = typed_events(ids)
    n_ins = n_docs + 1
    n_upd = len(events) - n_ins
    fractions = [(n_ins + i * n_upd / n_update) / len(events) for i in range(n_update)]
    return land_slices(events, fractions, path, {"params": params})


def read_slice_rows(path: str) -> list[dict]:
    """Events of one landed slice as EVENT_SCHEMA-shaped dicts (maps as
    dicts) for the pure-Python oracle."""
    rows = pq.read_table(path).to_pylist()
    for r in rows:
        for c in ("rows_before", "rows_after"):
            if r[c] is not None:
                r[c] = [dict(m) if m is not None else None for m in r[c]]
    return rows
