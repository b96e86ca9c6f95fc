"""The benchmark workloads, driven only through the engine's public entry
points: pipeline.apply_batch, streaming.stream.start_cdc_stream and the
LakeTable read/explain calls. Closed loop throughout: each trigger, batch or
read starts after the previous one returns.

stream_upsert  codehub.repo_files binlog through one start_cdc_stream query:
               one backlog catch-up trigger, then small triggers that mix
               delta appends with bucket rewrites. No Python stage in the
               ingest plan.
typed_wire     codehub.metrics wire-image binlog applied as apply_batch
               calls: the Arrow wire-decode UDF does most of the work.

Both run the same read phase (point lookups, selective scans, changelog
reads) on the table they build, so every end-to-end metric is measured on
every workload.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import types as T

from perfbench import inputs, lakestate

REPO_COLS = inputs.REPO_COLUMNS
REPO_KEYS = ["repo", "path"]
N_BUCKETS = 4
RETAIN_VERSIONS = 8


@dataclass
class Ops:
    """Operations attempted and failed; a mismatch or exception fails one."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted and reported, never dropped
            self.failed += 1
            self.problems.append(f"{what}: {e!r}"[:300])
            return None


@dataclass
class Run:
    spark: object
    seed: int
    seconds: int
    scratch: str
    work: str
    smoke: bool
    tracer: object | None
    ops: Ops = field(default_factory=Ops)
    samples: dict = field(default_factory=dict)  # metric -> [values]
    batches: list = field(default_factory=list)  # per batch/trigger record
    reads: list = field(default_factory=list)  # per read record
    info: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _row_hash(values) -> str:
    return hashlib.sha256(
        "\x1f".join("\x00" if v is None else str(v) for v in values).encode()
    ).hexdigest()


def state_digest(rows: dict) -> str:
    """Order-independent sha256 over {key: row tuple}."""
    h = hashlib.sha256()
    for r in sorted(_row_hash(v) for v in rows.values()):
        h.update(r.encode())
    return h.hexdigest()


def mismatches(a: dict, b: dict) -> list:
    """Keys whose row sha256 differs, or that only one side holds."""
    return sorted(
        k for k in set(a) | set(b)
        if k not in a or k not in b or _row_hash(a[k]) != _row_hash(b[k])
    )


def table_rows(table, cols, keys) -> dict:
    return {
        tuple(r[k] for k in keys): tuple(r[c] for c in cols)
        for r in table.read().collect()
    }


# ----------------------------------------------------------------- shared
def record_batch(run: Run, wall: float, m0: dict, m1: dict, events: int,
                 first: bool) -> dict:
    d = lakestate.diff(m0, m1)
    d.update({"wall_s": wall, "events": events, "catchup": first})
    run.batches.append(d)
    return d


def read_phase(run: Run, table, cols: list[str], lookups, scans, changes):
    """Closed-loop reads, each checked against the expected rows.

    lookups: [(key dict, expected row tuple or None)]
    scans:   [(filters, sorted expected row tuples)]
    changes: [(v0, v1, {change_type: count})]
    """
    def lookup(key, want):
        meta = table.metadata()

        def read():
            return timed(lambda: table.read_keys(key).collect())

        if run.tracer is not None:
            (rows, t), jobs = run.tracer.jobs_during(read)
        else:
            (rows, t), jobs = read(), []
        got = [tuple(r[c] for c in cols) for r in rows]
        run.ops.check(
            got == ([] if want is None else [want]),
            f"read_keys {key}: got {got[:1]} want {want}",
        )
        run.add("point_read_ms", t * 1000.0)
        run.reads.append(
            {"op": "point", "key": key, "meta": meta, "t": t, "jobs": jobs})

    def scan(flt, want):
        meta = table.metadata()
        rows, t = timed(lambda: table.read_where(flt).collect())
        got = sorted(tuple(r[c] for c in cols) for r in rows)
        run.ops.check(got == want, f"read_where {flt}: {len(got)} rows, want {len(want)}")
        run.add("scan_read_s", t)
        run.reads.append({"op": "scan", "filters": flt, "meta": meta, "t": t})

    def change(v0, v1, want):
        m0, m1 = table.metadata(v0), table.metadata(v1)
        rows, t = timed(lambda: table.changes(v0, v1).collect())
        got: dict = {}
        for r in rows:
            got[r["change_type"]] = got.get(r["change_type"], 0) + 1
        run.ops.check(got == want, f"changes({v0},{v1}): {got} want {want}")
        run.add("changes_read_s", t)
        run.reads.append({"op": "changes", "touched": lakestate.changed_buckets(m0, m1),
                          "meta": m1, "t": t})

    for key, want in lookups:
        run.ops.run(f"read_keys {key}", lambda: lookup(key, want))
    for flt, want in scans:
        run.ops.run(f"read_where {flt}", lambda: scan(flt, want))
    for v0, v1, want in changes:
        run.ops.run(f"changes({v0},{v1})", lambda: change(v0, v1, want))


def change_counts(before: dict, after: dict) -> dict:
    out: dict = {}

    def bump(k, n=1):
        out[k] = out.get(k, 0) + n

    for k in set(before) | set(after):
        if k not in before:
            bump("insert")
        elif k not in after:
            bump("delete")
        elif before[k] != after[k]:
            bump("update_before")
            bump("update_after")
    return out


def amplification(run: Run, table) -> None:
    """write_amp and space_amp against the final live state written once:
    the bucket bases of a snapshot whose buckets carry no deltas. The last
    commit of each workload rewrites every bucket under the engine's merge
    policy; should a policy change leave deltas behind, a full compaction
    (not counted as written) produces that snapshot instead."""
    meta = table.metadata()
    if any(r for r in meta.get("deltas", {}).values()):
        table.compact(files_per_bucket=1)
        meta = table.metadata()
    live = sum(
        lakestate.data_bytes(os.path.join(table.path, rel, f"_bucket={b}"))
        for b, rel in meta["buckets"].items()
    )
    written = sum(b["bytes_written"] for b in run.batches)
    run.info.update({"bytes_written": written, "live_bytes": live})
    run.add("write_amp", written / live)
    run.add("space_amp", run.info["table_bytes"] / live)


def check_state(run: Run, got: dict, want: dict, what: str) -> None:
    bad = mismatches(got, want)
    run.info[f"{what}_mismatches"] = len(bad)
    run.info[f"{what}_digest"] = state_digest(got)
    example = f"; e.g. {bad[0]}: got {got.get(bad[0])} want {want.get(bad[0])}" if bad else ""
    run.ops.check(not bad, f"{what}: {len(bad)} sha256 mismatches{example}"[:600])


# ---------------------------------------------------------- stream_upsert
def _land(slices: list[dict], src: str, idx: list[int], tag: str) -> None:
    """Copy slices into a stream source dir with ordered names and
    increasing mtimes, so the file source takes them in binlog order."""
    os.makedirs(src, exist_ok=True)
    for i in idx:
        dst = os.path.join(src, f"{tag}{i:04d}.parquet")
        shutil.copyfile(slices[i]["file"], dst)
        t = 1_600_000_000 + len(os.listdir(src)) * 10
        os.utime(dst, (t, t))


def _oracle_states(slices: list[dict]) -> list[dict]:
    """oracle.replay state after each slice: {key: row tuple}."""
    from mariadb_cdc_spark.oracle import replay

    events: list[dict] = []
    states = []
    for s in slices:
        events.extend(inputs.read_slice_rows(s["file"]))
        st = replay(events, REPO_KEYS).tables.get(("codehub", "repo_files"), {})
        states.append(
            {k: tuple(row.get(c) for c in REPO_COLS) for k, row in st.items()}
        )
    return states


def stream_upsert(run: Run) -> None:
    """Slices 0..n-2 go through one timed availableNow query, one slice per
    trigger: the backlog catch-up, then small triggers. Reads follow on the
    delta-debt table it leaves. The replay gate then restarts the query on
    the same checkpoint with a fresh table handle after re-landing every
    slice under new names: the file source redelivers all applied events
    on top of the unseen last slice, and the table must end equal to the
    oracle."""
    from mariadb_cdc_spark.pipeline import CdcConfig
    from mariadb_cdc_spark.sources.lake import LakeTable
    from mariadb_cdc_spark.streaming.stream import (
        CdcLifecycleListener,
        read_event_stream,
        start_cdc_stream,
    )

    spark = run.spark
    n_keys = 600 if run.smoke else 1500
    n_small = 4 if run.smoke else max(4, run.seconds // 4)
    meta, run.info["gen_s"] = timed(
        lambda: inputs.repo_stream_inputs(run.scratch, run.seed, n_keys, 0.7, n_small))
    slices = meta["slices"]
    states = _oracle_states(slices)
    last = len(slices) - 1  # held back for the replay gate
    schema = T.StructType([T.StructField(c, T.StringType()) for c in REPO_COLS])
    cfg = CdcConfig(retain_versions=RETAIN_VERSIONS)

    def stream(table, src, ckpt, per_trigger, lifecycle=None):
        q = start_cdc_stream(
            read_event_stream(spark, src, max_files_per_trigger=per_trigger),
            table, cfg, checkpoint_dir=ckpt, stream_id="cdc", lifecycle=lifecycle,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    # warm-up at full scale: the backlog trigger on a throwaway table, then
    # one read of each kind on it
    def warm():
        w = os.path.join(run.work, "warm")
        t = LakeTable.create(spark, f"{w}/t", schema, REPO_KEYS, n_buckets=N_BUCKETS)
        _land(slices, f"{w}/src", [0], "w")
        stream(t, f"{w}/src", f"{w}/ckpt", 1)
        t.read_keys(dict(zip(REPO_KEYS, next(iter(states[0]))))).collect()
        t.read_where([("lang", "=", "rs")]).collect()
        t.changes(0, 1).collect()

    _, run.info["warmup_s"] = timed(lambda: run.ops.run("warm-up", warm))

    w = os.path.join(run.work, "timed")
    table = LakeTable.create(spark, f"{w}/t", schema, REPO_KEYS, n_buckets=N_BUCKETS)
    _land(slices, f"{w}/src", list(range(last)), "s")
    snaps = [table.metadata()]

    class Snap(CdcLifecycleListener):
        def on_batch(self, epoch, metrics):
            snaps.append(table.metadata())

    if run.tracer is not None:
        run.tracer.applies.clear()
    q, wall = timed(lambda: run.ops.run(
        "stream", lambda: stream(table, f"{w}/src", f"{w}/ckpt", 1, Snap())))
    if q is None:
        return
    progress = q.recentProgress
    run.ops.check(len(progress) == last == len(snaps) - 1,
                  f"{len(progress)} triggers for {last} slices")
    for i, (p, m0, m1) in enumerate(zip(progress, snaps, snaps[1:])):
        d = record_batch(run, p["durationMs"]["triggerExecution"] / 1000.0,
                         m0, m1, slices[i]["events"], i == 0)
        d["progress"] = p["durationMs"]
    run.add("ingest_eps", sum(s["events"] for s in slices[:last]) / wall)
    run.info["stream_wall_s"] = wall
    run.info["table_bytes"] = lakestate.dir_bytes(table.path)
    now = states[last - 1]
    check_state(run, table_rows(table, REPO_COLS, REPO_KEYS), now, "stream")

    rnd = random.Random(run.seed)
    deleted = sorted(set().union(*states[:last]) - set(now))
    lookups = [(dict(zip(REPO_KEYS, k)), now[k]) for k in rnd.sample(sorted(now), 1)]
    if deleted:
        lookups.append((dict(zip(REPO_KEYS, rnd.choice(deleted))), None))
    lookups.append(({"repo": "repo_0", "path": f"absent/{run.seed}.txt"}, None))
    scans = [
        ([("repo", "=", repo)], sorted(v for k, v in now.items() if k[0] == repo))
        for repo in (f"repo_{r}" for r in rnd.sample(range(61), 2))
    ]
    # changelog of each small trigger: each commits its merge, then a
    # metadata-only batch marker, so the merge is version pre + 1
    changes = [
        (snaps[i]["version"], snaps[i]["version"] + 1,
         change_counts(states[i - 1], states[i]))
        for i in range(1, last)
    ]
    read_phase(run, table, REPO_COLS, lookups, scans, changes)

    def replay():
        _land(slices, f"{w}/src", list(range(last + 1)), "r")
        again = LakeTable(spark, f"{w}/t")
        stream(again, f"{w}/src", f"{w}/ckpt", None)
        check_state(run, table_rows(again, REPO_COLS, REPO_KEYS), states[-1],
                    "replay")
        amplification(run, again)

    run.ops.run("replay gate", replay)
    run.info["staged"] = ("stream", slices[0]["file"], CdcConfig())
    run.info["table"] = table


# ------------------------------------------------------------- typed_wire
def _typed_row(doc_id: int, updated: bool) -> tuple:
    """The lake row gen._typed_logical implies, in TYPED_LAKE_SCHEMA order
    and the Python types Spark returns."""
    from mariadb_cdc_spark.gen import _typed_logical

    lv = _typed_logical(doc_id, False)
    if updated:
        up = _typed_logical(doc_id, True)
        lv["price"], lv["updated_at"] = up["price"], up["updated_at"]
    d = lv["dur"]
    return (
        lv["id"], lv["price"], lv["updated_at"], lv["flags"], lv["ratio"],
        lv["status"],
        ",".join(n for i, n in enumerate(["read", "write", "exec"])
                 if lv["tags_mask"] & (1 << i)),
        lv["created"], f"{d.hour:02d}:{d.minute:02d}:{d.second:02d}",
        lv["seen_at"], lv["name"], lv["title"], lv["payload"].hex(),
        lv["attrs"], lv["label"],
    )


def typed_wire(run: Run) -> None:
    """The insert wave as one backlog apply_batch, then the update wave in
    small batches; reads run before the last batch, while the table
    carries delta debt."""
    from mariadb_cdc_spark import pipeline
    from mariadb_cdc_spark.gen import MAIN_DATABASE, TYPED_LAKE_SCHEMA, TYPED_TABLE
    from mariadb_cdc_spark.sources.lake import LakeTable, _parse_type

    spark = run.spark
    n_docs = 600 if run.smoke else 2500
    n_update = 3 if run.smoke else max(3, run.seconds // 5)
    meta, run.info["gen_s"] = timed(
        lambda: inputs.typed_inputs(run.scratch, run.seed, n_docs, n_update))
    slices = meta["slices"]
    ids = inputs.typed_doc_ids(run.seed, n_docs)
    # closed-form state after each slice; doc d's events sit at binlog_pos
    # d * 256 + 64 in both waves
    inserted: set = set()
    updated: set = set()
    states = []
    for s in slices:
        for r in inputs.read_slice_rows(s["file"]):
            d = r["binlog_pos"] // 256
            if r["event_type"] == "WRITE_ROWS":
                inserted.add(d)
            elif r["event_type"] == "UPDATE_ROWS":
                updated.add(d)
        states.append({(d,): _typed_row(d, d in updated) for d in inserted})
    schema = T.StructType(
        [T.StructField(n, _parse_type(s)) for n, s in TYPED_LAKE_SCHEMA])
    cols = [n for n, _ in TYPED_LAKE_SCHEMA]
    cfg = pipeline.CdcConfig(
        database=MAIN_DATABASE, table=TYPED_TABLE, keys=["id"],
        retain_versions=RETAIN_VERSIONS,
    )

    def apply(table, i: int, sid: str) -> tuple[dict, float]:
        m0 = table.metadata()
        ev = spark.read.parquet(slices[i]["file"])
        _, t = timed(lambda: pipeline.apply_batch(ev, table, cfg, stream_id=sid,
                                                  batch_id=i))
        return m0, t

    def rows(table) -> dict:
        return {(r["id"],): tuple(r[c] for c in cols) for r in table.read().collect()}

    # warm-up at full scale: the insert wave (a Python-UDF batch) on a
    # throwaway table, then one read of each kind on it
    def warm():
        t = LakeTable.create(spark, os.path.join(run.work, "warm"), schema, ["id"],
                             n_buckets=N_BUCKETS)
        apply(t, 0, "warm")
        t.read_keys({"id": ids[0]}).collect()
        t.read_where([("id", "<", ids[len(ids) // 20])]).collect()
        t.changes(0, 1).collect()

    _, run.info["warmup_s"] = timed(lambda: run.ops.run("warm-up", warm))

    table = LakeTable.create(spark, os.path.join(run.work, "typed"), schema, ["id"],
                             n_buckets=N_BUCKETS)
    if run.tracer is not None:
        run.tracer.applies.clear()
    last = len(slices) - 1
    versions = []

    def batch(i: int) -> bool:
        m0, t = apply(table, i, "typed")
        versions.append(m0["version"])
        record_batch(run, t, m0, table.metadata(), slices[i]["events"], i == 0)
        return True

    for i in range(last):
        if not run.ops.run(f"apply_batch {i}", lambda: batch(i)):
            return
    now = states[last - 1]
    check_state(run, rows(table), now, "typed")

    rnd = random.Random(run.seed)
    known = set(ids)
    absent = next(d for d in range(rnd.randrange(10**7), 10**8) if d not in known)
    lookups = [({"id": d}, now[(d,)]) for d in rnd.sample(ids, 2)]
    lookups.append(({"id": absent}, None))
    lo, hi = ids[len(ids) // 20], ids[-len(ids) // 20]
    scans = [
        ([("id", "<", lo)], sorted(v for k, v in now.items() if k[0] < lo)),
        ([("id", ">", hi)], sorted(v for k, v in now.items() if k[0] > hi)),
    ]
    changes = [
        (versions[i], versions[i] + 1, change_counts(states[i - 1], states[i]))
        for i in (last - 2, last - 1)
    ]
    read_phase(run, table, cols, lookups, scans, changes)
    run.info["table_bytes"] = lakestate.dir_bytes(table.path)

    run.ops.run(f"apply_batch {last}", lambda: batch(last))
    run.add("ingest_eps", sum(s["events"] for s in slices)
            / sum(b["wall_s"] for b in run.batches))
    check_state(run, rows(table), states[-1], "final")
    run.ops.run("amplification", lambda: amplification(run, table))
    run.info["staged"] = ("typed", slices[0]["file"], cfg)
    run.info["table"] = table


WORKLOADS = {"stream_upsert": stream_upsert, "typed_wire": typed_wire}
