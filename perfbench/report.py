"""Turn a finished Run into the end-to-end and per-layer metric dicts.

Batch latency is split by merge kind (from metadata diffs) and a median is
never taken across kinds. A tail is reported only within one kind and only
when at least ten samples lie beyond it.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F


E2E_UNITS = {
    "ingest_eps": "events/s",
    "catchup_s": "s",
    "append_batch_s_p50": "s",
    "compact_batch_s_p50": "s",
    "point_read_ms_p50": "ms",
    "scan_read_s_p50": "s",
    "changes_read_s_p50": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def tail(xs: list[float]) -> dict:
    """Median and the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    out = {"n": len(xs), "p50": median(xs) if xs else None}
    if len(xs) >= 20:
        q = 1.0 - 10.0 / len(xs)
        out[f"p{int(q * 100)}"] = xs[min(len(xs) - 1, int(q * len(xs)))]
    return out


def end_to_end(run) -> tuple[dict, dict]:
    batches = [b for b in run.batches if not b["catchup"]]
    by_kind: dict = {}
    for b in batches:
        by_kind.setdefault(b["kind"], []).append(b["wall_s"])
    catchup = [b["wall_s"] for b in run.batches if b["catchup"]]
    s = run.samples
    values = {
        "ingest_eps": s.get("ingest_eps"),
        "catchup_s": catchup,
        "append_batch_s_p50": by_kind.get("append"),
        "compact_batch_s_p50": by_kind.get("compact"),
        "point_read_ms_p50": s.get("point_read_ms"),
        "scan_read_s_p50": s.get("scan_read_s"),
        "changes_read_s_p50": s.get("changes_read_s"),
        "write_amp": s.get("write_amp"),
        "space_amp": s.get("space_amp"),
        "peak_rss_mb": s.get("peak_rss_mb"),
    }
    out = {}
    for name, xs in values.items():
        if xs:
            out[name] = _m(median(xs), E2E_UNITS[name])
        else:
            run.ops.check(False, f"no samples for {name}")
    if "warmup_s" in run.info:
        out["setup_s"] = _m(run.info["session_s"] + run.info["warmup_s"], "s")
    else:
        run.ops.check(False, "no warm-up recorded")
    detail = {
        "samples": {
            "batches_by_kind": {k: tail(v) for k, v in by_kind.items()},
            "catchup": tail(catchup),
            "point_read_ms": tail(s.get("point_read_ms", [])),
            "scan_read_s": tail(s.get("scan_read_s", [])),
            "changes_read_s": tail(s.get("changes_read_s", [])),
        },
        "batch_modes": [b["mode"] for b in run.batches],
        "batch_walls": [round(b["wall_s"], 3) for b in run.batches],
        "info": {k: v for k, v in run.info.items()
                 if k not in ("table", "staged")},
    }
    return out, detail


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def staged(run) -> dict:
    """decode and fold timed apart: decoded_changes with the wire decode
    the pipeline would choose, and with it off, then fold_for_merge on top,
    each materialised with a noop write (best of two)."""
    from mariadb_cdc_spark import pipeline
    from mariadb_cdc_spark.operators.registry import table_map_registry

    _, path, cfg = run.info["staged"]
    ev = run.spark.read.parquet(path)
    has_wire = not table_map_registry(ev).where(
        F.col("column_metadata").isNotNull()
    ).isEmpty()

    def best(fn):
        return min(_noop(fn()) for _ in range(2))

    def dec(wire):
        return pipeline.decoded_changes(ev, cfg, wire_decode=wire)

    decode_s = best(lambda: dec(has_wire))
    wire_s = decode_s - best(lambda: dec(False)) if has_wire else 0.0
    fold_s = best(lambda: pipeline.fold_for_merge(dec(has_wire), cfg)) - decode_s
    decoded = dec(has_wire)
    rows_out = decoded.count()
    wire_values = 0
    if has_wire:
        n = F.when(F.col("before").isNull(), 0).otherwise(F.size("before")) + F.when(
            F.col("after").isNull(), 0).otherwise(F.size("after"))
        wire_values = int(decoded.select(F.sum(n)).collect()[0][0] or 0)
    keys_out = pipeline.fold_for_merge(decoded, cfg).count()
    return {
        "decode.s": _m(decode_s, "s"),
        "decode.wire_s": _m(wire_s, "s"),
        "decode.rows_out": _m(rows_out, "count"),
        "decode.wire_values": _m(wire_values, "count"),
        "fold.s": _m(fold_s, "s"),
        "fold.rows_in": _m(rows_out, "count"),
        "fold.keys_out": _m(keys_out, "count"),
    }


def per_layer(run) -> dict:
    tr = run.tracer
    table = run.info["table"]
    timed = run.batches
    # applies are cleared when the timed phase starts, so they line up
    for b, a in zip(timed, tr.applies):
        b["apply"] = a
    appends = [b for b in timed if b["kind"] == "append" and "apply" in b]
    compacts = [b for b in timed if b["kind"] == "compact" and "apply" in b]
    control = ("checkpoint.lineage", "pipeline.registry", "pipeline.ddl")

    def span(b, names):
        a = b["apply"]
        return tr.busy(names, a["t0"], a["t1"])

    def apply_s(b):
        return b["apply"]["t1"] - b["apply"]["t0"]

    is_stream = "progress" in (timed[0] if timed else {})
    shapes = [tr.job_shape(b["apply"]["jobs"]) for b in appends]
    out = {
        "stream.trigger_s": _m(
            median(b["wall_s"] for b in appends) if is_stream else 0.0, "s"),
        "stream.engine_overhead_s": _m(
            median(b["wall_s"] - apply_s(b) for b in appends) if is_stream else 0.0,
            "s"),
        "pipeline.apply_s": _m(median(apply_s(b) for b in appends), "s"),
        "pipeline.control_plane_s": _m(median(span(b, control) for b in appends), "s"),
        "pipeline.spark_jobs": _m(median(len(b["apply"]["jobs"]) for b in appends),
                                  "count"),
        "pipeline.spark_stages": _m(median(s for s, _ in shapes), "count"),
        "pipeline.spark_tasks": _m(median(t for _, t in shapes), "count"),
        "checkpoint.lineage_s": _m(
            median(span(b, ("checkpoint.lineage",)) for b in appends), "s"),
        "lake.merge_s": _m(median(span(b, ("lake.merge",)) for b in compacts), "s"),
        "lake.commit_s": _m(median(span(b, ("lake.commit",)) for b in timed), "s"),
        "lake.expire_s": _m(median(span(b, ("lake.expire",)) for b in timed), "s"),
        "stats.harvest_s": _m(
            median(span(b, ("stats.harvest",)) for b in compacts), "s"),
    }
    for mode in ("fresh", "delta", "hybrid", "cow"):
        out[f"lake.merges_{mode}"] = _m(
            sum(1 for b in timed if b["mode"] == mode), "count")
    for k in ("buckets_rewritten", "delta_files_appended", "files_written"):
        out[f"lake.{k}"] = _m(sum(b[k] for b in timed), "count")
    out["lake.bytes_written"] = _m(sum(b["bytes_written"] for b in timed), "bytes")

    # read side: explain calls at the version each read saw
    from perfbench import lakestate

    points = [r for r in run.reads if r["op"] == "point"]
    scans = [r for r in run.reads if r["op"] == "scan"]
    chg = [r for r in run.reads if r["op"] == "changes"]
    pp = [table.point_plan(r["key"], version=r["meta"]["version"]) for r in points]
    sp = [table.pruning_plan(r["filters"], version=r["meta"]["version"]) for r in scans]
    out["stats.point_files_scanned"] = _m(median(p["files_scanned"] for p in pp), "count")
    out["stats.point_bytes_scanned"] = _m(median(p["bytes_scanned"] for p in pp), "bytes")
    out["stats.scan_buckets_scanned"] = _m(median(p["buckets_scanned"] for p in sp), "count")
    out["stats.scan_files_scanned"] = _m(median(p["files_scanned"] for p in sp), "count")
    out["stats.scan_bytes_scanned"] = _m(median(p["bytes_scanned"] for p in sp), "bytes")
    out["lake.read_keys_jobs"] = _m(median(len(r["jobs"]) for r in points), "count")
    debts = [lakestate.debt(r["meta"]) for r in run.reads]
    out["lake.dirty_buckets"] = _m(median(d for d, _ in debts), "count")
    out["lake.delta_files_live"] = _m(median(f for _, f in debts), "count")
    out["lake.changes_buckets_touched"] = _m(median(r["touched"] for r in chg), "count")

    out.update(staged(run))
    busy = sum(b["wall_s"] for b in timed) + sum(r["t"] for r in run.reads)
    out["trace.overhead_s"] = _m(tr.overhead_s, "s")
    out["trace.overhead_share"] = _m(tr.overhead_s / busy if busy else 0.0, "ratio")
    return out
