"""File-level min/max stats + scan pruning (sources/stats.py, LakeTable.
read_where): the Iceberg manifest-bounds planFiles path for this lake
format. Properties pinned:

  - read_where == read().filter(pred) for every supported op, across
    merges (COW and MOR delta appends), sorted compaction, schema
    evolution, truncate, and time travel — pruning saves IO only;
  - the MOR soundness case: a STALE delta row that matches the predicate
    while the key's newer base row does not must stay invisible (bucket-
    granularity pruning, never per-file inside a dirty bucket);
  - sorted compaction actually prunes (files_scanned << files_live);
  - string-bound truncation keeps valid bounds (upper-increment).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mariadb_cdc_spark.sources import lake as lake_mod
from mariadb_cdc_spark.sources import stats as fs
from mariadb_cdc_spark.sources.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def _folded(spark, rows):
    """rows: (id, final_op, image_dict, pos)"""
    return spark.createDataFrame(
        [
            (rid, op, img, "bin.000001", pos, 0, 1)
            for rid, op, img, pos in rows
        ],
        "id string, final_op string, image map<string,string>,"
        " last_file string, last_pos long, last_row_idx int, n_changes long",
    )


def _img(i, **over):
    d = {
        "id": f"k{i:05d}",
        "path": f"src/{i:06d}",
        "lang": "python" if i % 3 == 0 else "java",
        "n": str(i),
    }
    d.update({k: str(v) for k, v in over.items()})
    return d


def _init(spark, path, n=600, n_buckets=8):
    t = LakeTable.create(spark, path, SCHEMA, ["id"], n_buckets=n_buckets)
    t.merge(
        _folded(
            spark,
            [(f"k{i:05d}", "UPSERT", _img(i), 100 + i) for i in range(n)],
        ),
        stream_id="init",
        batch_id=0,
    )
    return t


def _check(t, filters):
    got = sorted(
        tuple(r) for r in t.read_where(filters).collect()
    )
    want = sorted(
        tuple(r) for r in fs.residual_filter(t.read(), filters).collect()
    )
    assert got == want, f"read_where diverged for {filters}"
    return got


FILTER_CASES = [
    [("path", "prefix", "src/0001")],
    [("path", ">=", "src/000250"), ("path", "<", "src/000300")],
    [("n", "between", (100, 140))],
    [("n", "=", 7)],
    [("lang", "=", "python"), ("n", "<=", 60)],
    [("id", "in", ["k00003", "k00404", "k99999"])],
    [("n", ">", 595)],
    [("path", "prefix", "nosuch/")],
]


def test_read_where_matches_filtered_read_after_merges(spark, tmp_path):
    t = _init(spark, str(tmp_path / "t"))
    # MOR delta wave: updates move some keys OUT of the python predicate,
    # deletes kill a few matching rows
    t.merge(
        _folded(
            spark,
            [
                ("k00003", "UPSERT", {"lang": "go", "n": "1003"}, 9000),
                ("k00006", "DELETE", {}, 9001),
                ("k00101", "UPSERT", _img(101, n=5), 9002),
            ],
        ),
        stream_id="init",
        batch_id=1,
    )
    for filters in FILTER_CASES:
        _check(t, filters)


def test_stale_delta_row_cannot_resurrect(spark, tmp_path):
    """Anchored MOR appends leave stale rows in deltas by design. Build a
    key whose FINAL image does NOT match the predicate while an OLDER
    delta row does; a per-file pruner that dropped the newer file would
    emit the stale row — bucket-granularity pruning must not."""
    # base large enough that the two 1-row deltas stay WELL below the
    # bucket's COMPACT_BYTES_FRACTION (else the second merge COW-folds the
    # stale row away and the case degenerates)
    t = _init(spark, str(tmp_path / "t"), n=3000, n_buckets=2)
    # older change: k00001 -> lang=rust (matches pred)
    t.merge(
        _folded(spark, [("k00001", "UPSERT", _img(1, lang="rust"), 8000)]),
        stream_id="init",
        batch_id=1,
    )
    # newer change: k00001 -> lang=java (does not match)
    t.merge(
        _folded(spark, [("k00001", "UPSERT", _img(1, lang="java"), 8100)]),
        stream_id="init",
        batch_id=2,
    )
    assert t.metadata().get("deltas"), "test requires the MOR delta path"
    rows = _check(t, [("lang", "=", "rust")])
    assert rows == []  # the stale rust row must lose to the newer java row


def test_sorted_compaction_prunes_files(spark, tmp_path):
    t = _init(spark, str(tmp_path / "t"), n=2000)
    t.compact(sort_by=["path"], files_per_bucket=6)
    plan = t.pruning_plan([("path", "prefix", "src/0001")])
    assert plan["files_live"] >= 40
    assert plan["files_scanned"] <= plan["files_live"] // 3
    assert plan["bytes_scanned"] < plan["bytes_live"]
    _check(t, [("path", "prefix", "src/0001")])
    # a no-hit predicate prunes EVERYTHING
    none = t.pruning_plan([("path", ">=", "zzz")])
    assert none["buckets_scanned"] == 0 and none["files_scanned"] == 0
    assert t.read_where([("path", ">=", "zzz")]).count() == 0


def test_pruning_across_schema_evolution(spark, tmp_path):
    t = _init(spark, str(tmp_path / "t"), n=200)
    t.compact(sort_by=["path"], files_per_bucket=4)
    t.add_column("stars", "long")
    # files written BEFORE the add have no 'stars' stats -> they read as
    # null -> a stars predicate prunes them wholesale
    plan = t.pruning_plan([("stars", ">=", 10)])
    assert plan["files_scanned"] == 0
    assert t.read_where([("stars", ">=", 10)]).count() == 0
    # new data with the column present
    t.merge(
        _folded(
            spark,
            [("k90000", "UPSERT", dict(_img(0), id="k90000", stars="12"),
              99000)],
        ),
        stream_id="init",
        batch_id=1,
    )
    got = t.read_where([("stars", ">=", 10)]).collect()
    assert [r["id"] for r in got] == ["k90000"]
    # rename rewrites physically; stats follow the new name
    t.rename_column("stars", "stargazers")
    got = t.read_where([("stargazers", ">=", 10)]).collect()
    assert [r["id"] for r in got] == ["k90000"]
    with pytest.raises(ValueError):
        t.read_where([("stars", ">=", 10)])
    # drop: the column is gone from the logical schema entirely
    t.drop_column("stargazers")
    with pytest.raises(ValueError):
        t.read_where([("stargazers", ">=", 10)])


def test_read_where_keeps_added_column_across_relations(spark, tmp_path):
    """Clean buckets of DIFFERENT relations hold different physical
    schemas after add_column + a COW of one bucket: bucket 0's base
    predates `stars`, bucket 1's rewrite carries it. Each relation must
    be scanned with its own schema, or the newer bucket's `stars` values
    silently read back NULL."""
    t = _init(spark, str(tmp_path / "t"), n=200, n_buckets=2)
    t.add_column("stars", "long")
    ids = spark.createDataFrame(
        [(f"k{i:05d}",) for i in range(200)], "id string"
    )
    b1 = [
        r["id"]
        for r in ids.where(
            lake_mod._bucket_col([F.col("id")], 2) == 1
        ).collect()
    ]
    res = t.merge(
        _folded(
            spark,
            [
                (k, "UPSERT", dict(_img(int(k[1:])), stars="7"), 9000 + j)
                for j, k in enumerate(b1)
            ],
        ),
        stream_id="init",
        batch_id=1,
    )
    assert res["plan"] == {"fresh": 0, "delta": 0, "cow": 1}, res
    meta = t.metadata()
    assert meta["buckets"]["0"] != meta["buckets"]["1"]
    assert not any(meta.get("deltas", {}).values())
    stars = {r["id"]: r["stars"] for r in t.read().collect()}
    assert sum(v == 7 for v in stars.values()) == len(b1)
    got = {
        r["id"]: r["stars"] for r in t.read_where([("n", ">=", 0)]).collect()
    }
    assert got == stars


def test_pruning_across_truncate_and_time_travel(spark, tmp_path):
    t = _init(spark, str(tmp_path / "t"), n=300)
    v_before = t.metadata()["version"]
    t.truncate(position_floor=("bin.000001", 10_000))
    assert t.read_where([("n", "<", 50)]).count() == 0
    assert t.pruning_plan([("n", "<", 50)])["buckets_live"] == 0
    # old snapshot still prunes with its own stats
    got = t.read_where([("n", "<", 50)], version=v_before).count()
    assert got == 50


def test_unknown_column_and_bad_ops_raise(spark, tmp_path):
    t = _init(spark, str(tmp_path / "t"), n=20)
    with pytest.raises(ValueError):
        t.read_where([("nope", "=", 1)])
    with pytest.raises(ValueError):
        t.read_where([("n", "~", 1)])
    with pytest.raises(ValueError):
        t.read_where([("n", "between", 3)])


# ---------------------------------------------------------------- unit level

def test_trunc_upper_increments_and_degrades():
    long = "a" * 100
    up = fs._trunc_upper(long)
    assert up == "a" * 63 + "b" and up > long[: fs.TRUNCATE_LEN]
    assert fs._trunc_upper("short") == "short"
    assert fs._trunc_upper("\U0010ffff" * 100) is None  # honest: unbounded


def test_range_might_match_ops():
    m = fs._range_might_match
    assert m(5, 10, "=", 7) and not m(5, 10, "=", 11)
    assert m(5, 10, "<", 6) and not m(5, 10, "<", 5)
    assert m(5, 10, ">", 9) and not m(5, 10, ">", 10)
    assert m(5, 10, "between", (10, 20)) and not m(5, 10, "between", (11, 20))
    assert m(5, 10, "in", [1, 9]) and not m(5, 10, "in", [1, 2])
    assert m("alpha", "beta", "prefix", "be")
    assert not m("alpha", "beta", "prefix", "bf")
    # unbounded sides keep
    assert m(None, 10, "<", 100) and m(5, None, ">", 1)
    # incomparable literal keeps
    assert m(5, 10, "=", "x")


def test_file_might_match_null_and_absent_semantics():
    st = {"a": [1, 5, 0], "b": "null", "c": "na"}
    assert fs.file_might_match(st, [("a", "=", 3)])
    assert not fs.file_might_match(st, [("a", "=", 9)])
    assert not fs.file_might_match(st, [("b", "=", 1)])   # all-null
    assert fs.file_might_match(st, [("c", "=", 1)])       # no info
    assert not fs.file_might_match(st, [("d", "=", 1)])   # absent -> null


def test_string_bounds_truncated_in_metadata(spark, tmp_path):
    """Content-sized strings must not bloat the metadata JSON: bounds are
    stored truncated to TRUNCATE_LEN (+1 for the incremented upper)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        T.StructType(
            [T.StructField("id", T.StringType()),
             T.StructField("content", T.StringType())]
        ),
        ["id"],
        n_buckets=2,
    )
    t.merge(
        _folded(
            spark,
            [(f"k{i}", "UPSERT",
              {"id": f"k{i}", "content": f"line{i:03d}" + "y" * 500},
              100 + i)
             for i in range(20)],
        ),
        stream_id="s",
        batch_id=0,
    )
    meta = t.metadata()
    for rel_stats in meta["stats"].values():
        for fmap in rel_stats.values():
            for entry in fmap.values():
                st = entry["cols"].get("content")
                if isinstance(st, list):
                    assert len(st[0]) <= fs.TRUNCATE_LEN
                    assert st[1] is None or len(st[1]) <= fs.TRUNCATE_LEN
    got = t.read_where([("content", "prefix", "line00")]).count()
    assert got == 10
