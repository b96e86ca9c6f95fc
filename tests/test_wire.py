"""Wire framing: v4 header + CRC32 trailer + MariaDB compressed rows events.

The reference strips the 4-byte checksum without verifying it
(binlog/reader/handler/BinLogHandler.java:89-97) and maps the MariaDB
compressed-rows codes 0xa6-0xa8 to UNKNOWN (BinlogEventType.java:6-27);
these tests pin the engine's stronger behavior: real CRC32 verification
(JVM-side) and a working compressed-event decode path, both with
poison-pill containment.
"""

import zlib

import pytest
from pyspark.sql import functions as F

from mariadb_cdc_spark.gen import generate_typed_events
from mariadb_cdc_spark.operators.wire import (
    CRC_BYTES,
    HEADER_BYTES,
    checksum_stats,
    compress_rows_events,
    decompress_rows_events,
    frame_events,
    unframe_events,
    verify_event_checksums,
)

SF = "/root/testdata/sf0.001"

def _cmp_cols():
    # set operations reject MapType columns: compare image maps via their
    # canonical JSON rendering instead
    return [
        "server_id",
        "binlog_file",
        "binlog_pos",
        "event_type",
        "ts",
        "table_id",
        "column_names",
        F.to_json(F.struct("rows_before", "rows_after")).alias("images_json"),
    ]


@pytest.fixture(scope="module")
def typed_events(spark):
    return generate_typed_events(spark, SF).cache()


def test_frame_header_layout(spark, typed_events):
    """Header fields live at the BinLogHeader.java offsets, little-endian,
    and the trailer is the real CRC32 of everything before it."""
    row = (
        frame_events(typed_events)
        .where(F.col("event_type") == "WRITE_ROWS")
        .orderBy("binlog_pos")
        .select("frame_hex", "server_id", "binlog_pos", "ts")
        .first()
    )
    frame = bytes.fromhex(row.frame_hex)
    assert int.from_bytes(frame[4:5], "little") == 0x17  # WRITE_ROWS_EVENT_V1
    assert int.from_bytes(frame[5:9], "little") == row.server_id
    assert int.from_bytes(frame[9:13], "little") == len(frame)
    assert int.from_bytes(frame[13:17], "little") == row.binlog_pos % (1 << 32)
    assert int.from_bytes(frame[17:19], "little") == 0
    stored = int.from_bytes(frame[-CRC_BYTES:], "little")
    assert stored == zlib.crc32(frame[:-CRC_BYTES])
    # body is the canonical JSON of the non-header envelope
    body = frame[HEADER_BYTES:-CRC_BYTES].decode("utf-8")
    assert body.startswith("{") and '"rows_after"' in body


def test_verify_all_ok_and_roundtrip(spark, typed_events):
    framed = frame_events(typed_events)
    verified = verify_event_checksums(framed)
    n = typed_events.count()
    assert verified.where(F.col("frame_status") == "ok").count() == n

    back = unframe_events(framed)
    a = typed_events.select(*_cmp_cols())
    b = back.select(*_cmp_cols())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_corruption_detected_and_counted(spark, typed_events):
    """A flipped body byte -> crc_mismatch; a truncated frame ->
    length_mismatch; both countable, neither kills the job."""
    framed = frame_events(typed_events)
    doc_id = ((F.col("binlog_pos") - 64) / 256).cast("long")
    rowsy = F.col("event_type").isin("WRITE_ROWS", "UPDATE_ROWS")
    flip = rowsy & (doc_id % 3 == 0)
    trunc = rowsy & (doc_id % 3 == 1)
    # XOR one body byte (hex chars 41-42, inside the JSON body)
    byte = F.conv(F.substring("frame_hex", 41, 2), 16, 10).cast("int")
    flipped = F.lpad(F.lower(F.hex(byte.bitwiseXOR(F.lit(255)))), 2, "0")
    corrupted = framed.withColumn(
        "frame_hex",
        F.when(
            flip,
            F.concat(
                F.substring("frame_hex", 1, 40),
                flipped,
                F.expr("substring(frame_hex, 43)"),
            ),
        )
        .when(trunc, F.expr("substring(frame_hex, 1, length(frame_hex) - 2)"))
        .otherwise(F.col("frame_hex")),
    )
    stats = {
        (r.binlog_file, r.frame_status): r.n_events
        for r in checksum_stats(verify_event_checksums(corrupted)).collect()
    }
    n_docs = typed_events.where(F.col("event_type") == "WRITE_ROWS").count()
    exp_flip = sum(1 for d in range(n_docs) if d % 3 == 0)
    exp_trunc = sum(1 for d in range(n_docs) if d % 3 == 1)
    assert stats[("typ.000001", "crc_mismatch")] == exp_flip
    assert stats[("typ.000001", "length_mismatch")] == exp_trunc
    # updates exist only for doc_id % 5 < 2
    exp_flip_u = sum(1 for d in range(n_docs) if d % 5 < 2 and d % 3 == 0)
    assert stats[("typ.000002", "crc_mismatch")] == exp_flip_u


def test_crc_matches_zlib_for_random_frames(spark):
    """Spark's crc32 IS zlib's crc32 — pin the equivalence the verifier
    relies on, over frames of many lengths and byte values."""
    payloads = [bytes(range(k)) * (k % 7 + 1) for k in range(1, 40)]
    df = spark.createDataFrame(
        [(p.hex(),) for p in payloads], "hex string"
    ).withColumn("crc", F.crc32(F.unhex("hex")))
    got = {r.hex: r.crc for r in df.collect()}
    for p in payloads:
        assert got[p.hex()] == zlib.crc32(p)


def test_compressed_roundtrip_identical_state(spark, typed_events):
    comp = compress_rows_events(typed_events)
    rowsy = comp.where(F.col("event_type").endswith("_COMPRESSED"))
    n_rows_events = typed_events.where(
        F.col("event_type").isin("WRITE_ROWS", "UPDATE_ROWS")
    ).count()
    assert rowsy.count() == n_rows_events
    assert rowsy.where(F.col("rows_after").isNotNull()).count() == 0

    back = decompress_rows_events(comp)
    assert back.where(F.col("decompress_error")).count() == 0
    a = typed_events.select(*_cmp_cols())
    b = back.select(*_cmp_cols())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_compressed_payload_is_mariadb_format(spark, typed_events):
    row = (
        compress_rows_events(typed_events)
        .where(F.col("event_type") == "WRITE_ROWS_COMPRESSED")
        .select("compressed_payload")
        .first()
    )
    p = bytes(row.compressed_payload)
    assert p[0] == 0x84  # 0x80 flag | 4-byte length field
    declared = int.from_bytes(p[1:5], "little")
    raw = zlib.decompress(p[5:])
    assert len(raw) == declared
    assert raw.decode("utf-8").startswith("{")


def test_poisoned_compressed_payload_contained(spark, typed_events):
    """Garbage deflate bytes -> decompress_error row with null images;
    the batch survives (poison-pill contract)."""
    comp = compress_rows_events(typed_events)
    doc_id = ((F.col("binlog_pos") - 64) / 256).cast("long")
    poison = F.col("event_type").endswith("_COMPRESSED") & (doc_id % 11 == 0)
    comp = comp.withColumn(
        "compressed_payload",
        F.when(poison, F.unhex(F.lit("84ffffffffdeadbeef"))).otherwise(
            F.col("compressed_payload")
        ),
    )
    back = decompress_rows_events(comp)
    bad = back.where(F.col("decompress_error"))
    n_docs = (
        typed_events.where(F.col("event_type") == "WRITE_ROWS").count()
    )
    exp = sum(1 for d in range(n_docs) if d % 11 == 0) + sum(
        1 for d in range(n_docs) if d % 5 < 2 and d % 11 == 0
    )
    assert bad.count() == exp
    assert bad.where(F.col("rows_after").isNotNull()).count() == 0
    # untouched events decode normally
    assert back.where(~F.col("decompress_error") & (F.col("event_type") == "WRITE_ROWS")).count() == n_docs - sum(
        1 for d in range(n_docs) if d % 11 == 0
    )


def test_compressed_stream_archives_losslessly(spark, typed_events):
    """A log_bin_compress stream frames/unframes with its compressed
    payloads intact (base64 through the JSON body) and still inflates to
    the original images after the archive round trip."""
    from pyspark.sql import types as T

    comp = compress_rows_events(typed_events)
    framed = frame_events(comp)
    assert (
        verify_event_checksums(framed)
        .where(F.col("frame_status") != "ok")
        .count()
        == 0
    )
    back = unframe_events(
        framed,
        extra_fields=[T.StructField("compressed_payload", T.BinaryType())],
    )
    restored = decompress_rows_events(back)
    assert restored.where(F.col("decompress_error")).count() == 0
    a = typed_events.select(*_cmp_cols())
    b = restored.select(*_cmp_cols())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_null_frame_is_quarantined_not_ok(spark, typed_events):
    """Three-valued-logic regression: a NULL (or absent) frame used to
    fall through every when() branch into 'ok', so corruption was neither
    dropped nor counted. 'ok' is now the explicit positive verdict."""
    framed = frame_events(typed_events)
    doc_id = ((F.col("binlog_pos") - 64) / 256).cast("long")
    nulled = framed.withColumn(
        "frame_hex",
        F.when(
            (F.col("event_type") == "WRITE_ROWS") & (doc_id % 4 == 0),
            F.lit(None).cast("string"),
        ).otherwise(F.col("frame_hex")),
    )
    v = verify_event_checksums(nulled)
    n_null = nulled.where(F.col("frame_hex").isNull()).count()
    assert n_null > 0
    got = {
        r.frame_status: r.n
        for r in v.groupBy("frame_status").agg(F.count("*").alias("n")).collect()
    }
    assert got.get("length_mismatch", 0) >= n_null
    assert got["ok"] == nulled.count() - got["length_mismatch"]
    # and the quarantine companion counts them (status != 'ok')
    from mariadb_cdc_spark.operators.wire import framed_to_events

    binf = nulled.withColumn(
        "frame", F.unhex("frame_hex")
    ).select("binlog_file", "frame")
    assert framed_to_events(binf).count() == nulled.count() - n_null


def test_position_beyond_u32_fails_loudly(spark, typed_events):
    """The v4 wire header carries position as u32; the envelope carries
    longs. Framing a row with binlog_pos >= 2^32 must raise, not wrap
    silently through a frame round-trip."""
    bad = typed_events.withColumn(
        "binlog_pos", F.col("binlog_pos") + F.lit(1 << 32)
    )
    with pytest.raises(Exception, match="u32 wire limit"):
        frame_events(bad).select("frame_hex").collect()



def test_status_filter_stays_linear_in_the_frame(spark):
    """A frame_status filter is pushed below verify's projections, so
    every reference to the frame inside the status verdict inlines the
    whole frame_events expression. Each helper names its input once;
    when the byte swaps named it once per byte, the optimized plan of
    this filter held 134 crc32 calls and compiled no code. Short and
    odd-length frames keep their 'length_mismatch' verdicts."""
    import datetime

    from mariadb_cdc_spark.schema import EVENT_SCHEMA

    row = (5, "bin.000001", 100, "WRITE_ROWS", datetime.datetime(2020, 1, 1),
           "g", 3, "db", "t", [1], ["a"], None, None, None, [True], None,
           [{"a": "b"}], None, None, 4, None, None)
    framed = frame_events(spark.createDataFrame([row], EVENT_SCHEMA))
    v = verify_event_checksums(framed).where(F.col("frame_status") == "ok")
    plan = v._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("crc32(") <= 16
    assert v.count() == 1
    frame = framed.first().frame_hex
    odd = spark.createDataFrame(
        [(None,), ("",), ("abc",), ("ab" * 12,), (frame[:-1],), (frame[:-2],)],
        "frame_hex string",
    )
    assert [r.frame_status for r in verify_event_checksums(odd).collect()] \
        == ["length_mismatch"] * 6
