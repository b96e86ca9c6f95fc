"""Concurrent-writer throughput probe: two disjoint-key streams merging
into ONE table from two threads vs the same two batches sequentially.

Evidence for the round-3 optimistic-concurrency commit path: disjoint
writers overlap their Spark work and serialize only at the CAS pointer
swap (one rebases), so concurrent wall < sequential wall. Prints ONE JSON
line with both walls and the final state checks (row count, both batch
markers committed exactly once).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/probe_concurrent_merge.py
"""

import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import REPO_SCHEMA, _session, bench_repo_table  # noqa: E402
from mariadb_cdc_spark.gen import MERGE_KEYS, generate_events  # noqa: E402
from mariadb_cdc_spark.pipeline import CdcConfig, apply_batch  # noqa: E402
from mariadb_cdc_spark.sources.lake import LakeTable  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _halves(spark):
    """Split the key space by the TABLE'S OWN bucket hash so the two
    streams write disjoint bucket sets — the shape of partitioned
    multi-writer ingest (per-table streams, range-sharded backfills). The
    CAS loser then takes the metadata-only REBASE, not a recompute."""
    repo = bench_repo_table(spark, SF)
    bucket = F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(64))
    a = repo.where(bucket < 32)
    b = repo.where(bucket >= 32)
    tmp = tempfile.mkdtemp(prefix="conc_events_")
    for name, part in (("a", a), ("b", b)):
        generate_events(part, rows_per_event=4, include_audit=False,
                        n_buckets=256).repartition(16).write.parquet(
            f"{tmp}/{name}"
        )
    return tmp


def _apply(spark, tmp, table, name, bid):
    apply_batch(
        spark.read.parquet(f"{tmp}/{name}"), table,
        CdcConfig(apply_ddl=False), stream_id=name, batch_id=bid,
    )


def main():
    spark = _session(32)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = _halves(spark)

    # warm-up (JIT) on throwaway tables
    for mode in ("w1", "w2"):
        t = LakeTable.create(
            spark, f"{tmp}/{mode}", REPO_SCHEMA, MERGE_KEYS, n_buckets=64
        )
        _apply(spark, tmp, t, "a", 0)

    seq_t = LakeTable.create(
        spark, f"{tmp}/seq", REPO_SCHEMA, MERGE_KEYS, n_buckets=64
    )
    t0 = time.time()
    _apply(spark, tmp, seq_t, "a", 0)
    _apply(spark, tmp, seq_t, "b", 0)
    seq_wall = time.time() - t0

    conc_t = LakeTable.create(
        spark, f"{tmp}/conc", REPO_SCHEMA, MERGE_KEYS, n_buckets=64
    )
    errs = []

    def run(name):
        try:
            _apply(spark, tmp, conc_t, name, 0)
        except Exception as e:  # pragma: no cover
            errs.append(repr(e))

    t0 = time.time()
    th = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for x in th:
        x.start()
    for x in th:
        x.join(600)
    conc_wall = time.time() - t0

    n_seq = seq_t.read().count()
    n_conc = conc_t.read().count()
    meta = conc_t.metadata()
    out = {
        "metric": "concurrent_merge_speedup",
        "value": round(seq_wall / conc_wall, 3),
        "unit": "x",
        "sequential_sec": round(seq_wall, 2),
        "concurrent_sec": round(conc_wall, 2),
        "rows_sequential": n_seq,
        "rows_concurrent": n_conc,
        "state_identical": n_seq == n_conc,
        "committed": meta["committed"],
        "errors": errs,
        "sf": SF,
    }
    print(json.dumps(out))
    spark.stop()
    sys.exit(0 if (not errs and out["state_identical"]) else 1)


if __name__ == "__main__":
    main()
