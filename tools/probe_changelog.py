"""Changelog-read cost probe (evidence for LakeTable.changes docstring).

Loads the sf table into a lake, applies a small point-update batch, then
measures the bytes changes() actually scans vs the naive snapshot-diff
cost (2x full table). A batch touching k buckets must read ~k/n_buckets
of the table per side — the touched-buckets-only claim, measured.

Honesty note: a batch updating a RANDOM 1% of keys grazes essentially
every bucket (4k keys into 64 buckets), so bucket-level diffing cannot
help there — this probe measures the point-update / localized-batch case
the optimization exists for. The random-spray case degrades to the naive
2x-scan cost by construction, same as Iceberg changelog scans over
unpartitioned updates.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/probe_changelog.py
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import REPO_SCHEMA, bench_repo_table  # noqa: E402
from mariadb_cdc_spark.gen import MERGE_KEYS, generate_events  # noqa: E402
from mariadb_cdc_spark.pipeline import CdcConfig, apply_batch  # noqa: E402
from mariadb_cdc_spark.session import get_spark  # noqa: E402
from mariadb_cdc_spark.sources.lake import LakeTable, _dir_bytes  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BUCKETS = 64


def main():
    spark = get_spark(app_name="probe-changelog")
    spark.sparkContext.setLogLevel("ERROR")
    repo = bench_repo_table(spark, SF).cache()

    tmp = tempfile.mkdtemp(prefix="probe_chlog_")
    table = LakeTable.create(
        spark, f"{tmp}/t", REPO_SCHEMA, MERGE_KEYS, n_buckets=N_BUCKETS
    )
    events = generate_events(repo, include_audit=False, n_buckets=256)
    apply_batch(events, table, CdcConfig(), stream_id="p", batch_id=0)
    v1 = table.metadata()["version"]
    table_bytes = _dir_bytes(f"{tmp}/t/data")
    n_rows = table.read().count()

    # point-update batch: ~10 keys (hash-gated, deterministic)
    upd_repo = repo.where(
        F.pmod(F.xxhash64("repo", "path"), F.lit(n_rows // 10)) == 0
    ).withColumn("content", F.concat(F.col("content"), F.lit("\n// probe")))
    n_upd = upd_repo.count()
    upd_events = generate_events(
        upd_repo, include_audit=False, n_buckets=256, events_per_file=4096
    ).withColumn("binlog_file", F.concat(F.lit("upd."), F.col("binlog_file")))
    apply_batch(upd_events, table, CdcConfig(), stream_id="p", batch_id=1)

    ch = table.changes(v1)
    n_changes = ch.count()
    read_bytes = sum(
        os.path.getsize(f.replace("file:", "")) for f in set(ch.inputFiles())
    )
    touched = {
        os.path.basename(os.path.dirname(f.replace("file:", "")))
        for f in ch.inputFiles()
    }
    out = {
        "metric": "changelog_read_cost_point_update",
        "table_rows": n_rows,
        "updated_keys": n_upd,
        "n_change_rows": n_changes,
        "n_buckets": N_BUCKETS,
        "buckets_scanned": len(touched),
        "table_bytes": table_bytes,
        "bytes_read": read_bytes,
        "read_fraction_of_table": round(read_bytes / max(table_bytes, 1), 4),
        "naive_diff_cost_fraction": 2.0,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
