"""Write-amplification probe (VERDICT r1 #7 'Done' criterion).

Loads the sf table into a lake, applies a batch updating ~1% of keys, and
reports bytes written by that merge vs total table bytes. With the MOR
delta path the ratio must be well under 10%.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/probe_write_amp.py
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


def main():
    spark = get_spark(app_name="probe-write-amp")
    spark.sparkContext.setLogLevel("ERROR")
    repo = bench_repo_table(spark, SF).cache()

    tmp = tempfile.mkdtemp(prefix="probe_wamp_")
    table = LakeTable.create(
        spark, f"{tmp}/t", REPO_SCHEMA, MERGE_KEYS, n_buckets=64
    )
    events = generate_events(repo, include_audit=False, n_buckets=256)
    apply_batch(events, table, CdcConfig(), stream_id="p", batch_id=0)
    base_bytes = _dir_bytes(f"{tmp}/t/data")
    n_rows = table.read().count()

    # ~1% of keys get an update (hash-gated, deterministic)
    upd_repo = repo.where(
        F.pmod(F.xxhash64("repo", "path"), F.lit(100)) == 0
    ).withColumn("content", F.concat(F.col("content"), F.lit("\n// probe")))
    n_upd = upd_repo.count()
    upd_events = generate_events(
        upd_repo, include_audit=False, n_buckets=256, events_per_file=4096
    ).withColumn("binlog_file", F.concat(F.lit("upd."), F.col("binlog_file")))
    before = _dir_bytes(f"{tmp}/t")
    res = apply_batch(upd_events, table, CdcConfig(), stream_id="p", batch_id=1)
    written = _dir_bytes(f"{tmp}/t") - before

    out = {
        "metric": "write_amplification_1pct",
        "table_rows": n_rows,
        "updated_keys": n_upd,
        "key_fraction": round(n_upd / max(n_rows, 1), 4),
        "base_bytes": base_bytes,
        "bytes_written": written,
        "bytes_fraction": round(written / max(base_bytes, 1), 4),
        "merge_mode": (
            "delta"
            if any(table.metadata().get("deltas", {}).values())
            else "cow"
        ),
        "epochs": res.get("epochs"),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
