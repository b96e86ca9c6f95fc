"""Per-file merge-key bloom filters + exact-key file skipping
(sources/stats.py attach_blooms/prune_point, LakeTable.read_keys /
point_plan): the Iceberg puffin-bloom planFiles path for point reads.

Properties pinned:
  - blooms are recorded per written file at every commit path (create,
    COW merge, delta merge, compaction rewrite);
  - read_keys over a driver-side want-list equals the unpruned
    (CDC_LAKE_BLOOMS=0) result — pruning saves IO only, never rows;
  - no false negatives: every present key is always found (blooms only
    ever keep EXTRA files);
  - dirty-bucket soundness: a key whose newest version lives in a delta
    file resolves to that version even though OTHER files of the same
    bucket were bloom-pruned; a delta-deleted key stays deleted;
  - point_plan shows files_scanned < files_live once deltas accumulate;
  - the stored bloom bytes are pinned for string, bigint and composite
    keys, so tables written earlier read the same; a commit's blooms
    cost one Spark job; files over BLOOM_MAX_FILE_ROWS get none.
"""

import pytest
from pyspark.sql import types as T

from mariadb_cdc_spark.sources import stats as fs
from mariadb_cdc_spark.sources.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("val", T.StringType()),
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


def _val(i):
    # incompressible payload: the base bucket files must stay big enough
    # that the small delta waves never cross the COW byte threshold
    # (COMPACT_BYTES_FRACTION x base bucket bytes) — the waves must
    # actually take the delta path for these tests to mean anything
    import hashlib

    return hashlib.md5(str(i).encode()).hexdigest() * 4


def _init(spark, path, n=4000, n_buckets=4):
    t = LakeTable.create(spark, path, SCHEMA, ["id"], n_buckets=n_buckets)
    t.merge(
        _folded(
            spark,
            [
                (f"k{i}", "UPSERT", {"id": f"k{i}", "val": _val(i)}, 100 + i)
                for i in range(n)
            ],
        ),
        stream_id="init",
        batch_id=0,
    )
    return t


def _deltas(spark, t, waves=4, per=3, start_pos=10_000):
    """Apply `waves` small delta merges, each touching `per` distinct keys
    (disjoint across waves), so buckets accumulate several delta files."""
    for w in range(waves):
        rows = [
            (
                f"k{w * per + j}",
                "UPSERT",
                {"id": f"k{w * per + j}", "val": f"d{w}_{j}"},
                start_pos + w * 100 + j,
            )
            for j in range(per)
        ]
        res = t.merge(_folded(spark, rows), stream_id="d", batch_id=w + 1)
        assert res["mode"] == "delta", res
    return t


def _rel_entries(meta, rels):
    return [
        e
        for rel in rels
        for fm in meta["stats"].get(rel, {}).values()
        for e in fm.values()
    ]


def test_blooms_default_policy_delta_only(spark, tmp_path):
    """Default CDC_LAKE_BLOOMS=delta: delta commits carry blooms (small
    files, where point reads need membership); base relations skip them
    (measured write cost on big COW commits) and rely on key min/max."""
    t = _deltas(spark, _init(spark, str(tmp_path / "t")), waves=2)
    meta = t.metadata()
    base_rels = set(meta["buckets"].values())
    delta_rels = {r for rels in meta["deltas"].values() for r in rels}
    assert base_rels and delta_rels
    base_entries = _rel_entries(meta, base_rels)
    delta_entries = _rel_entries(meta, delta_rels)
    assert base_entries and not any("bloom" in e for e in base_entries)
    assert delta_entries and all("bloom" in e for e in delta_entries)
    b = delta_entries[0]["bloom"]
    assert set(b) == {"m", "k", "b64"} and b["m"] % 8 == 0 and b["k"] >= 1


def test_blooms_all_mode_covers_every_commit_path(spark, tmp_path,
                                                  monkeypatch):
    monkeypatch.setenv("CDC_LAKE_BLOOMS", "all")
    t = _deltas(spark, _init(spark, str(tmp_path / "t")), waves=2)
    meta = t.metadata()
    all_rels = set(meta["buckets"].values()) | {
        r for rels in meta["deltas"].values() for r in rels
    }
    entries = _rel_entries(meta, all_rels)
    assert entries and all("bloom" in e for e in entries)

    t.compact()
    meta = t.metadata()
    entries = _rel_entries(meta, set(meta["buckets"].values()))
    assert entries and all("bloom" in e for e in entries)


def test_read_keys_equals_unpruned_and_no_false_negatives(
    spark, tmp_path, monkeypatch
):
    t = _deltas(spark, _init(spark, str(tmp_path / "t")))
    want = [{"id": f"k{i}"} for i in (0, 3, 7, 11, 250, 399)] + [
        {"id": "missing"}
    ]
    got = sorted(tuple(r) for r in t.read_keys(want).collect())

    # unpruned control: a table built identically with blooms disabled
    monkeypatch.setenv("CDC_LAKE_BLOOMS", "0")
    c = _deltas(spark, _init(spark, str(tmp_path / "c")))
    meta = c.metadata()
    assert not any(
        "bloom" in e
        for bm in meta["stats"].values()
        for fm in bm.values()
        for e in fm.values()
    )
    control = sorted(tuple(r) for r in c.read_keys(want).collect())
    assert got == control

    # every present key found, with its newest value
    by_id = {r[0]: r[1] for r in got}
    assert by_id["k0"] == "d0_0" and by_id["k11"] == "d3_2"
    assert by_id["k250"] == _val(250) and "missing" not in by_id


def test_dirty_bucket_soundness(spark, tmp_path):
    """The key's stale base row and its newer delta row both survive
    pruning (same key -> same bloom hits), so resolution still picks the
    newest; a delta DELETE stays deleted."""
    t = _init(spark, str(tmp_path / "t"))
    t.merge(
        _folded(
            spark,
            [
                ("k1", "UPSERT", {"id": "k1", "val": "NEW"}, 20_000),
                ("k2", "DELETE", {"id": "k2"}, 20_001),
            ],
        ),
        stream_id="d",
        batch_id=1,
    )
    rows = {
        r["id"]: r["val"]
        for r in t.read_keys([{"id": "k1"}, {"id": "k2"}]).collect()
    }
    assert rows == {"k1": "NEW"}


def test_point_plan_prunes_files(spark, tmp_path):
    t = _deltas(spark, _init(spark, str(tmp_path / "t")), waves=6)
    plan = t.point_plan({"id": "k0"})
    assert plan["buckets_hit"] == 1
    assert 0 < plan["files_scanned"] < plan["files_live"]
    assert 0 < plan["bytes_scanned"] < plan["bytes_live"]
    # k0 was touched only by delta wave 0 + the base: inside its bucket,
    # every other wave's delta file should be bloom-pruned, so the scan
    # reads at most (1 base file + 1 delta file + FP slack)
    assert plan["files_scanned"] <= 3

    # a key no delta touched scans just its base file (+ FP slack)
    plan2 = t.point_plan({"id": "k399"})
    assert plan2["files_scanned"] <= 2


def test_sorted_base_prunes_by_key_bounds(spark, tmp_path):
    """The base-relation complement of delta blooms: after compaction
    sorted by the merge key, each base file's recorded key min/max is a
    tight range, so a point read opens ~1 base file per bucket without
    any bloom."""
    t = _init(spark, str(tmp_path / "t"), n=4000, n_buckets=2)
    t.compact(sort_by=["id"], files_per_bucket=8)
    meta = t.metadata()
    n_base_files = sum(
        len(fm)
        for rel in set(meta["buckets"].values())
        for fm in meta["stats"][rel].values()
    )
    assert n_base_files >= 8  # the sort actually split files
    plan = t.point_plan({"id": "k1234"})
    assert plan["buckets_hit"] == 1
    assert plan["files_scanned"] <= 2  # ~1 of the bucket's >=8 files
    got = {r["id"]: r["val"] for r in t.read_keys([{"id": "k1234"}]).collect()}
    assert got == {"k1234": _val(1234)}


def test_bloom_may_contain_math():
    import base64

    # all-zero bits: nothing may be contained
    zero = {"m": 64, "k": 7, "b64": base64.b64encode(b"\x00" * 8).decode()}
    assert not fs.bloom_may_contain(zero, [(12345, 67890)])
    # all-one bits: everything may be contained
    ones = {"m": 64, "k": 7, "b64": base64.b64encode(b"\xff" * 8).decode()}
    assert fs.bloom_may_contain(ones, [(12345, 67890)])
    # hand-set bits for one pair must hit for that pair
    m, k = 1024, 7
    h1, h2 = 0x0123456789ABCDEF, 0xFEDCBA9876543210
    bits = bytearray(m // 8)
    for i in range(k):
        p = ((h1 + i * h2) & ((1 << 64) - 1)) % m
        bits[p >> 3] |= 1 << (p & 7)
    bl = {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}
    assert fs.bloom_may_contain(bl, [(h1, h2)])
    assert not fs.bloom_may_contain(bl, [(h1 ^ 1, h2)])


def test_dataframe_want_list_matches_driver_path(spark, tmp_path):
    t = _deltas(spark, _init(spark, str(tmp_path / "t")))
    want_rows = [{"id": f"k{i}"} for i in (0, 5, 42, 399)]
    via_list = sorted(tuple(r) for r in t.read_keys(want_rows).collect())
    want_df = spark.createDataFrame([(f"k{i}",) for i in (0, 5, 42, 399)],
                                    "id string")
    via_df = sorted(tuple(r) for r in t.read_keys(want_df).collect())
    assert via_list == via_df


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_read_keys_after_compaction_and_truncate(spark, tmp_path, n_buckets):
    t = _deltas(
        spark, _init(spark, str(tmp_path / f"t{n_buckets}"),
                     n_buckets=n_buckets)
    )
    t.compact()
    got = {r["id"]: r["val"] for r in t.read_keys([{"id": "k0"}]).collect()}
    assert got == {"k0": "d0_0"}
    t.truncate()
    assert t.read_keys([{"id": "k0"}]).count() == 0


def _new_job_ids(spark, before=None):
    ids = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    return ids if before is None else ids - before


def test_one_key_on_clean_table_runs_one_spark_job(spark, tmp_path):
    """Read planning runs on the driver: bucket id and bloom hashes fold
    from literals, each relation's schema comes from its footer, and the
    want-list is an exact filter — only the scan itself is a job."""
    t = _init(spark, str(tmp_path / "t"), n=400)
    assert not any(t.metadata().get("deltas", {}).values())
    before = _new_job_ids(spark)
    got = t.read_keys({"id": "k7"}).collect()
    assert [tuple(r) for r in got] == [("k7", _val(7))]
    assert len(_new_job_ids(spark, before)) == 1


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    """The footer schema every scan is given is the one Spark's inference
    returns, relation by relation, across add, widen and rename."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("val", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, ["id"], n_buckets=2
    )

    def merge(batch, extra):
        rows = [
            (f"k{i}", "UPSERT", dict(id=f"k{i}", val=f"v{i}", n=str(i),
                                     **extra), 100 * batch + i)
            for i in range(40)
        ]
        t.merge(_folded(spark, rows), stream_id="s", batch_id=batch)

    merge(0, {})
    t.add_column("stars", "long")
    merge(1, {"stars": "3"})
    t.widen_column("n", "bigint")
    merge(2, {"stars": "4"})
    t.rename_column("stars", "stargazers")
    rels = set()
    for v in range(t.metadata()["version"] + 1):
        meta = t.metadata(v)
        rels |= set(meta["buckets"].values())
        rels |= {r for rs in meta.get("deltas", {}).values() for r in rs}
    assert len(rels) >= 4  # before add, after add, after widen, renamed
    for rel in rels:
        for d in (tmp_path / "t" / rel).glob("_bucket=*"):
            assert fs._footer_schema(str(d)) == (
                spark.read.parquet(str(d)).schema
            ), (rel, d.name)
    assert {r["stargazers"] for r in t.read().collect()} == {4}


def _pair_table(spark, path):
    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    t = LakeTable.create(spark, path, schema, ["a", "b"], n_buckets=2)
    rows = [
        (a, b, "UPSERT", {"a": a, "b": b, "val": f"{a}{b}"}, "bin.000001",
         100 + i, 0, 1)
        for i, (a, b) in enumerate(
            [("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"),
             ("a1", None)]
        )
    ]
    t.merge(
        spark.createDataFrame(
            rows,
            "a string, b string, final_op string, image map<string,string>,"
            " last_file string, last_pos long, last_row_idx int,"
            " n_changes long",
        ),
        stream_id="s",
        batch_id=0,
    )
    return t


def test_composite_want_list_matches_exact_pairs(spark, tmp_path):
    """Per-column IN-lists would also return (a1, b1) and (a2, b2)."""
    t = _pair_table(spark, str(tmp_path / "t"))
    got = sorted(
        (r["a"], r["b"])
        for r in t.read_keys(
            [{"a": "a1", "b": "b2"}, {"a": "a2", "b": "b1"}]
        ).collect()
    )
    assert got == [("a1", "b2"), ("a2", "b1")]


def test_null_key_value_matches_nothing(spark, tmp_path):
    """An equi-join never matches NULL, not even the stored (a1, NULL)
    row; struct equality would."""
    t = _pair_table(spark, str(tmp_path / "t"))
    assert ("a1", None) in {(r["a"], r["b"]) for r in t.read().collect()}
    assert t.read_keys({"a": "a1", "b": None}).count() == 0
    got = [
        (r["a"], r["b"])
        for r in t.read_keys(
            [{"a": "a1", "b": None}, {"a": "a2", "b": "b2"}]
        ).collect()
    ]
    assert got == [("a2", "b2")]


def test_wrong_key_type_raises(spark, tmp_path):
    """Key values are verified against the key types as createDataFrame
    verifies rows (string fields accept any value; a bigint does not)."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["id"])
    assert t.read_keys({"id": 7}).count() == 0
    with pytest.raises(TypeError):
        t.read_keys({"id": "7"})
    with pytest.raises(TypeError):
        t.point_plan([{"id": 1}, {"id": 7.5}])


# Two single-file buckets per relation; the pinned blooms are the bytes
# the applyInPandas builder stored before the one-job harvest replaced it.
GOLDEN = {
    "str": (
        ["id"],
        "id string, val string",
        [(f"s{i}", f"v{i}", i % 2) for i in range(30)],
        {
            "0": (152, "7x0+uzsRJubcZFw/pUvhgXEwwg=="),
            "1": (152, "1OVGlFKWqCP2/j7c9DvnN0qUGw=="),
        },
    ),
    "big": (
        ["id"],
        "id bigint, val string",
        [(i * 1_000_003 - 7, f"v{i}", i % 2) for i in range(-15, 15)]
        + [(-(2**63), "min", 0), (2**63 - 1, "max", 1)],
        {
            "0": (160, "PP7iABH7wufmvso7J/10va4UOSI="),
            "1": (160, "/cy/0J0DR47MztDBTBGsnQd6zLY="),
        },
    ),
    "pair": (
        ["a", "b"],
        "a string, b bigint, val string",
        [(f"a{i % 5}", i, f"v{i}", i % 2) for i in range(30)]
        + [("a1", None, "null-b", 0)],
        {
            "0": (160, "cRJc9xlbFRPy3hTuQwBZExVS9AU="),
            "1": (152, "r5H9nNb7Sy5IIuPQDDSGoc2apA=="),
        },
    ),
}


@pytest.fixture(scope="module")
def golden_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("golden")
    for name, (_keys, ddl, rows, _want) in GOLDEN.items():
        spark.createDataFrame(rows, ddl + ", _bucket int").coalesce(
            1
        ).write.partitionBy("_bucket").parquet(str(root / name))
    return str(root)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_bloom_bytes(spark, golden_root, name):
    keys, _ddl, _rows, want = GOLDEN[name]
    st = fs.collect_rel_stats(spark, golden_root, name)
    fs.attach_blooms(spark, golden_root, name, keys, st)
    got = {
        b: [e["bloom"] for e in fm.values()] for b, fm in sorted(st.items())
    }
    assert got == {
        b: [{"m": m, "k": fs.BLOOM_K, "b64": b64}]
        for b, (m, b64) in want.items()
    }


def test_attach_blooms_runs_one_spark_job(spark, golden_root):
    """No inference job, no shuffle: one scan collected as Arrow."""
    st = fs.collect_rel_stats(spark, golden_root, "str")
    before = _new_job_ids(spark)
    fs.attach_blooms(spark, golden_root, "str", ["id"], st)
    assert len(_new_job_ids(spark, before)) == 1
    assert all("bloom" in e for fm in st.values() for e in fm.values())


@pytest.fixture(scope="module")
def capped_table(spark, tmp_path_factory):
    """A 2-bucket table whose one delta commit, made with
    BLOOM_MAX_FILE_ROWS = 2, writes a 1-row file and a 4-row file."""
    from mariadb_cdc_spark.sources.lake import _bucket_col

    t = _init(spark, str(tmp_path_factory.mktemp("capped") / "t"), n=400,
              n_buckets=2)
    buckets = {
        r["id"]: r["b"]
        for r in spark.createDataFrame(
            [(f"k{i}",) for i in range(40)], "id string"
        ).select("id", _bucket_col(["id"], 2).alias("b")).collect()
    }
    ids = [k for k in buckets if buckets[k] == 0][:1] + [
        k for k in buckets if buckets[k] == 1
    ][:4]
    rows = [
        (k, "UPSERT", {"id": k, "val": f"capped{j}"}, 10_000 + j)
        for j, k in enumerate(ids)
    ]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fs, "BLOOM_MAX_FILE_ROWS", 2)
        res = t.merge(_folded(spark, rows), stream_id="d", batch_id=1)
    assert res["mode"] == "delta", res
    return t


def test_over_cap_file_gets_no_bloom(capped_table):
    meta = capped_table.metadata()
    (rel,) = {r for rels in meta["deltas"].values() for r in rels}
    by_bucket = {
        b: [e for e in fm.values()] for b, fm in meta["stats"][rel].items()
    }
    assert sorted(by_bucket) == ["0", "1"]
    assert all("bloom" in e for e in by_bucket["0"])  # 1 row
    assert not any("bloom" in e for e in by_bucket["1"])  # 4 rows


def test_capped_table_has_no_false_negatives(capped_table):
    full = sorted(tuple(r) for r in capped_table.read().collect())
    assert len(full) == 400
    want = [{"id": r[0]} for r in full]
    assert sorted(tuple(r) for r in capped_table.read_keys(want).collect()) \
        == full
    assert sum(v.startswith("capped") for _k, v in full) == 5
