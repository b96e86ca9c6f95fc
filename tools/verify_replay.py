"""Replay-to-identical-state verification (the north rule's correctness
gate as a standalone operational check, runnable at any SF).

Applies the same event stream two ways:
  A. one batch, straight through;
  B. split at a wave boundary into two batches applied through TWO
     separate LakeTable handles (simulating a crash + process restart
     between micro-batches), the second batch REPLAYING the full stream
     filtered only by the checkpointed lineage (checkpoint.events_after)
     — the at-least-once redelivery contract.

Verifies per-row sha256(content) equality per (repo, path) between the
two final tables plus row-count equality, and prints ONE JSON line.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/verify_replay.py
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from mariadb_cdc_spark.gen import MERGE_KEYS, generate_events, repo_table  # noqa: E402
from mariadb_cdc_spark.pipeline import CdcConfig, apply_batch  # noqa: E402
from mariadb_cdc_spark.session import get_spark  # noqa: E402
from mariadb_cdc_spark.sources.checkpoint import events_after  # noqa: E402
from mariadb_cdc_spark.sources.lake import LakeTable  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in
     ["repo", "path", "commit", "lang", "content"]]
)


def _hashes(table):
    return (
        table.read()
        .select("repo", "path", F.sha2(F.col("content"), 256).alias("h"))
    )


def main():
    spark = get_spark(app_name="verify-replay")
    spark.sparkContext.setLogLevel("ERROR")
    repo = repo_table(spark, SF).cache()
    n_keys = repo.count()
    events = generate_events(repo).persist()
    tmp = tempfile.mkdtemp(prefix="verify_replay_")

    # A: straight through
    a = LakeTable.create(spark, f"{tmp}/a", SCHEMA, MERGE_KEYS, n_buckets=16)
    apply_batch(events, a, CdcConfig(), stream_id="a", batch_id=0)

    # B: two batches, restart + full-stream redelivery between them.
    # Batch 0 must be a true POSITION PREFIX (what a live tail would have
    # seen before crashing) — cutting by wave alone would carry every
    # file's gtid-less control events (rotate/heartbeat) into batch 0 and
    # legitimately advance the checkpoint past data never consumed.
    b = LakeTable.create(spark, f"{tmp}/b", SCHEMA, MERGE_KEYS, n_buckets=16)
    w0, _ = entrymod._split_events_by_wave(events, n_keys, max_wave_b0=1)
    cut = (
        w0.where(F.col("gtid").isNotNull())
        .agg(F.max(F.struct("binlog_file", "binlog_pos")).alias("m"))
        .collect()[0]["m"]
    )
    prefix = events.where(
        F.struct("binlog_file", "binlog_pos")
        <= F.struct(
            F.lit(cut[0]).alias("binlog_file"),
            F.lit(cut[1]).alias("binlog_pos"),
        )
    )
    apply_batch(prefix, b, CdcConfig(), stream_id="b", batch_id=0)
    b2 = LakeTable(spark, f"{tmp}/b")  # fresh handle = process restart
    replay = events_after(events, b2.lineage())  # redeliver from checkpoint
    apply_batch(replay, b2, CdcConfig(), stream_id="b", batch_id=1)

    ha, hb = _hashes(a).alias("a"), _hashes(b2).alias("b")
    j = ha.join(hb, ["repo", "path"], "full_outer")
    mismatches = j.where(
        F.col("a.h").isNull() | F.col("b.h").isNull()
        | (F.col("a.h") != F.col("b.h"))
    ).count()
    na, nb = a.read().count(), b2.read().count()
    out = {
        "metric": "replay_sha256_identical",
        "sf": SF,
        "source_keys": n_keys,
        "rows_straight": na,
        "rows_replayed": nb,
        "sha256_mismatches": mismatches,
        "identical": mismatches == 0 and na == nb,
    }
    print(json.dumps(out))
    spark.stop()
    sys.exit(0 if out["identical"] else 1)


if __name__ == "__main__":
    main()
