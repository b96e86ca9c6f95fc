"""File-level min/max statistics + scan pruning for LakeTable.

Iceberg keeps per-data-file column bounds in manifest files and plans scans
by evaluating the query predicate against those bounds before any data IO
(`lower_bounds`/`upper_bounds` in the manifest entry). This module is that
plane for the local lake format: every commit records, per written parquet
file, JSON-safe [lower, upper] bounds (+ null counts) harvested from the
parquet FOOTERS the writer just produced — no data re-scan. A commit of at
most DRIVER_FOOTER_MAX files reads its footers on a driver threadpool; a
larger one reads them in one executor job. `prune()` then turns a
small AND-of-comparisons predicate into a scan plan that skips whole
buckets (and, inside clean single-relation buckets, individual files)
whose bounds provably cannot satisfy the predicate.

Soundness under merge-on-read (the part plain Iceberg does not have to
deal with): a dirty bucket's live row set is the per-key LATEST over its
base + delta relations, and delta relations may legitimately carry STALE
rows (anchored appends skip the state read by design — lake.py
`_delta_frame`). File-level skipping inside such a bucket is therefore
UNSOUND: dropping the relation that holds a key's newest (non-matching)
row would resurrect its stale (matching) row from another relation. The
safe granularities, used here:

  - a BUCKET may be skipped iff EVERY file of EVERY relation of that
    bucket is excluded by the predicate — then no physical row matches,
    so no resolved row can match;
  - inside a CLEAN bucket (single base relation, no deltas, one row per
    key by construction of the COW rewrite) files prune individually.

Pruning is advisory: the exact predicate is always re-applied in Spark
(residual filter), so a wrong/missing bound can only cost IO, never
correctness — every ambiguous case below therefore degrades to "keep".
Columns with no usable footer stats (INT96 timestamps, decimals, overlong
binary) record "na" and never prune. At the 100 TB target the stats dict
moves out of the root metadata JSON into per-commit manifest files exactly
as Iceberg does; the structure (rel -> bucket -> file -> column -> bounds)
is already manifest-shaped.

String bounds are truncated to TRUNCATE_LEN chars the way Iceberg's
truncate transform does: the lower bound truncates directly (a prefix is
<= the value), the upper bound truncates and INCREMENTS the last codepoint
(so it stays an upper bound); if every prefix char is already the max
codepoint the upper bound degrades to "unbounded" rather than lying.
"""

from __future__ import annotations

import base64
import datetime
import json
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRUNCATE_LEN = 64
_NA = "na"           # column present but no usable bounds -> never prunes
_NULL_ONLY = "null"  # every row null -> excluded by any comparison

OPS = ("=", "<", "<=", ">", ">=", "between", "in", "prefix")

# commits writing at most this many files read their footers on the driver
# (threadpool, ~ms); larger commits distribute the reads as an executor job
DRIVER_FOOTER_MAX = 256


# --------------------------------------------------------------- bounds enc

def _trunc_lower(s: str) -> str:
    return s[:TRUNCATE_LEN]


def _trunc_upper(s: str) -> str | None:
    """Upper bound after truncation: increment the last incrementable
    codepoint of the prefix (Iceberg UnicodeUtil.truncateStringMax).
    None = unbounded."""
    if len(s) <= TRUNCATE_LEN:
        return s
    p = s[:TRUNCATE_LEN]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None


def _prefix_upper(p: str) -> str | None:
    """Exclusive upper bound of the set {x: x.startswith(p)}; None if it
    has no finite bound (all chars at the max codepoint)."""
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None


def _enc(v: Any) -> Any:
    """JSON-safe tagged encoding of a bound value; None = cannot encode."""
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if v != v else v  # NaN bounds are useless
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return {"T": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"D": v.isoformat()}
    return None


def _dec(j: Any) -> Any:
    if isinstance(j, dict):
        if "T" in j:
            return datetime.datetime.fromisoformat(j["T"])
        if "D" in j:
            return datetime.date.fromisoformat(j["D"])
    return j


def _coerce_literal(v: Any, bound: Any) -> Any:
    """Coerce a predicate literal into the bound's comparison domain;
    None = incomparable (caller keeps the file)."""
    if isinstance(bound, bool):
        return v if isinstance(v, bool) else None
    if isinstance(v, bool):
        return None
    if isinstance(bound, (int, float)):
        return v if isinstance(v, (int, float)) else None
    if isinstance(bound, str):
        return v if isinstance(v, str) else None
    if isinstance(bound, datetime.datetime):
        if isinstance(v, datetime.datetime):
            return v
        if isinstance(v, str):
            try:
                return datetime.datetime.fromisoformat(v)
            except ValueError:
                return None
        return None
    if isinstance(bound, datetime.date):
        if isinstance(v, datetime.datetime):
            return None
        if isinstance(v, datetime.date):
            return v
        if isinstance(v, str):
            try:
                return datetime.date.fromisoformat(v)
            except ValueError:
                return None
        return None
    return None


# ------------------------------------------------------------- collection

def _rel_files(table_path: str, data_rel: str) -> list[tuple[str, str, str]]:
    """(bucket, filename, path) of every data file of a relation, sorted.
    The list comes from the commit just made (driver-side listdir here; on
    an object store the writer's task commit messages carry it)."""
    base = os.path.join(table_path, data_rel)
    out: list[tuple[str, str, str]] = []
    if os.path.isdir(base):
        for d in sorted(os.listdir(base)):
            if not d.startswith("_bucket="):
                continue
            b = d.split("=", 1)[1]
            bdir = os.path.join(base, d)
            for f in sorted(os.listdir(bdir)):
                if f.endswith(".parquet"):
                    out.append((b, f, os.path.join(bdir, f)))
    return out


def _footer_schema(path: str) -> T.StructType:
    """The Spark schema a relation's writer stored in the footer of one of
    its parquet files (`path` is a file, or a bucket dir whose first data
    file is read), every field nullable as Spark's own inference — which
    reads the same footer key — makes it. Driver-side footer read: no
    Spark job. A footer without that key raises."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        names = sorted(
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not names:
            raise FileNotFoundError(f"no parquet data file in {path}")
        path = os.path.join(path, names[0])
    kv = pq.read_metadata(path).metadata or {}
    raw = kv.get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is None:
        raise ValueError(f"{path}: parquet footer carries no Spark schema")
    return T.StructType(
        [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in T.StructType.fromJson(json.loads(raw)).fields
        ]
    )


def _footer_stats(path: str) -> dict[str, Any]:
    """Per-column stats of ONE parquet file from its footer (on a driver
    thread or an executor, see collect_rel_stats). Returns
    {col: [lo, hi, n_nulls] | "na" | "null"}.

    Every ambiguity degrades toward "na" (keep the file); a chunk is
    counted all-null ONLY on explicit evidence (null_count == num_values),
    because a false "null" prunes a live file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # col -> _NA | {"lo": enc|None, "hi": enc|None, "nulls": int}
    acc: dict[str, Any] = {}
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            c = rg.column(j)
            name = c.path_in_schema
            if "." in name:  # nested leaf — out of scope
                acc[name.split(".", 1)[0]] = _NA
                continue
            if acc.get(name) == _NA:
                continue
            try:
                st = c.statistics
                if st is None:
                    acc[name] = _NA
                    continue
                nulls = st.null_count
                num_values = c.num_values
                if st.has_min_max:
                    lo, hi = _enc(st.min), _enc(st.max)
                    if lo is None or hi is None:
                        acc[name] = _NA  # unsupported bound type
                        continue
                elif nulls is not None and nulls == num_values:
                    lo = hi = None  # provably all-null chunk
                else:
                    acc[name] = _NA
                    continue
            except Exception:
                acc[name] = _NA
                continue
            cur = acc.setdefault(name, {"lo": None, "hi": None, "nulls": 0})
            if lo is not None:
                if cur["lo"] is None or _dec(lo) < _dec(cur["lo"]):
                    cur["lo"] = lo
                if cur["hi"] is None or _dec(hi) > _dec(cur["hi"]):
                    cur["hi"] = hi
            cur["nulls"] += nulls if nulls is not None else 0
    out: dict[str, Any] = {}
    for name, v in acc.items():
        if v == _NA:
            out[name] = _NA
        elif v["lo"] is None and v["hi"] is None:
            out[name] = _NULL_ONLY
        else:
            lo, hi = v["lo"], v["hi"]
            if isinstance(lo, str):
                lo = _trunc_lower(lo)
            if isinstance(hi, str):
                hi = _trunc_upper(hi)
            out[name] = [lo, hi, v["nulls"]]
    return out


def collect_rel_stats(spark, table_path: str, data_rel: str) -> dict:
    """Stats for every file of a just-written data relation:
    {str(bucket): {filename: {col: stat}}}.

    Footers only, never a re-scan of the data: a driver threadpool reads
    them for a commit of at most DRIVER_FOOTER_MAX files, and a larger
    commit reads them in one short executor job returning O(files x
    columns) small rows — the same shape as Iceberg building manifest
    entries.

    CDC_LAKE_STATS=0 disables collection (tables then scan unpruned —
    prune() treats missing stats as keep-everything); the A/B knob for
    measuring the per-commit cost, not a recommended mode."""
    if os.environ.get("CDC_LAKE_STATS", "1") == "0":
        return {}
    work = _rel_files(table_path, data_rel)
    if not work:
        return {}

    def one(t):
        b, f, p = t
        return b, f, {"size": os.path.getsize(p), "cols": _footer_stats(p)}

    if len(work) <= DRIVER_FOOTER_MAX:
        # small commit (the steady-state micro-batch case): a footer is a
        # few KB of local/remote IO — a driver threadpool finishes in
        # milliseconds, where a Spark job would pay whole-job scheduling
        # latency per commit on the ingest hot path
        with ThreadPoolExecutor(max_workers=min(16, len(work))) as ex:
            rows = list(ex.map(one, work))
    else:
        # large commit (backfill / full compaction at the 100 TB target):
        # thousands of footers — read them WHERE THE DATA IS, one short
        # executor job returning O(files x columns) small rows
        sc = spark.sparkContext
        n_slices = max(1, min(len(work), 64))
        rows = sc.parallelize(work, n_slices).map(one).collect()
    out: dict[str, dict] = {}
    for b, f, entry in rows:
        out.setdefault(b, {})[f] = entry
    return out


# ---------------------------------------------------------------- pruning

def validate_filters(filters: list[tuple]) -> list[tuple]:
    norm = []
    for flt in filters:
        if len(flt) != 3:
            raise ValueError(f"filter must be (col, op, value): {flt!r}")
        col, op, v = flt
        if op not in OPS:
            raise ValueError(f"unsupported op {op!r} (one of {OPS})")
        if op == "between" and (
            not isinstance(v, (tuple, list)) or len(v) != 2
        ):
            raise ValueError("between needs a (lo, hi) pair")
        if op == "in":
            if not isinstance(v, (tuple, list, set)):
                raise ValueError("in needs a collection")
            v = sorted(v, key=repr)
        if op == "prefix" and not isinstance(v, str):
            raise ValueError("prefix needs a string")
        norm.append((col, op, v))
    return norm


def _range_might_match(lo, hi, op: str, v) -> bool:
    """Can any value in [lo, hi] satisfy `op v`? lo/hi None = unbounded
    on that side. Incomparable literal -> True (keep)."""
    ref = lo if lo is not None else hi

    def cv(x):
        return _coerce_literal(x, ref) if ref is not None else x

    if op == "in":
        return any(_range_might_match(lo, hi, "=", x) for x in v)
    if op == "between":
        a, b = cv(v[0]), cv(v[1])
        if a is None or b is None:
            return True
        return (hi is None or a <= hi) and (lo is None or lo <= b)
    if op == "prefix":
        if ref is not None and not isinstance(ref, str):
            return True
        if v == "":
            return True
        ub = _prefix_upper(v)  # exclusive upper bound of the prefix set
        ok_hi = hi is None or hi >= v
        ok_lo = lo is None or ub is None or lo < ub
        return ok_hi and ok_lo
    x = cv(v)
    if x is None:
        return True
    if op == "=":
        return (lo is None or lo <= x) and (hi is None or x <= hi)
    if op == "<":
        return lo is None or lo < x
    if op == "<=":
        return lo is None or lo <= x
    if op == ">":
        return hi is None or hi > x
    if op == ">=":
        return hi is None or hi >= x
    return True


def file_might_match(file_stats: dict, filters: list[tuple]) -> bool:
    """AND semantics: the file survives only if every filter might match."""
    for col, op, v in filters:
        st = file_stats.get(col)
        if st is None:
            # column physically absent from the file -> its rows read as
            # NULL (aligned-scan null-fill) -> no comparison can match
            return False
        if st == _NA:
            continue  # no info for this column
        if st == _NULL_ONLY:
            return False
        lo, hi = _dec(st[0]), _dec(st[1])
        if not _range_might_match(lo, hi, op, v):
            return False
    return True


def bucket_rels(meta: dict, b: int) -> list[str]:
    """Relations holding bucket `b`: its base (if any), then its deltas."""
    sb = str(b)
    base = meta["buckets"].get(sb)
    return ([base] if base else []) + meta.get("deltas", {}).get(sb, [])


def prune(meta: dict, buckets: list[int], filters: list[tuple]) -> dict:
    """Scan plan: {bucket: {"rel_files": {rel: [filename,...] | None}}}
    for buckets that must be read; skipped buckets are absent. A dirty
    bucket (deltas present) is all-or-nothing; a clean bucket lists the
    surviving file subset of its single base relation. Relations without
    recorded stats (legacy commits) are conservatively kept in full
    (filenames = None -> whole dir)."""
    stats = meta.get("stats", {})
    deltas = meta.get("deltas", {})
    plan: dict[int, dict] = {}
    for b in buckets:
        sb = str(b)
        rels = bucket_rels(meta, b)
        if not rels:
            continue
        dirty = bool(deltas.get(sb))
        keep: dict[str, list | None] = {}
        any_survivor = False
        unknown = False
        for rel in rels:
            fmap = stats.get(rel, {}).get(sb)
            if fmap is None:
                keep[rel] = None  # no stats recorded: keep whole dir
                unknown = True
                any_survivor = True
                continue
            names = [
                f for f, entry in sorted(fmap.items())
                if file_might_match(entry["cols"], filters)
            ]
            keep[rel] = names
            if names:
                any_survivor = True
        if not any_survivor:
            continue  # every file of every rel excluded -> skip bucket
        if dirty or unknown:
            # per-key LATEST resolution needs the bucket's full history
            plan[b] = {"rel_files": {rel: None for rel in rels}}
        else:
            plan[b] = {
                "rel_files": {
                    rel: names for rel, names in keep.items() if names
                }
            }
    return plan


def residual_filter(df: DataFrame, filters: list[tuple]) -> DataFrame:
    """Exact predicate re-applied in Spark — pruning is IO-only."""
    for col, op, v in filters:
        c = F.col(col)
        if op == "=":
            df = df.where(c == F.lit(v))
        elif op == "<":
            df = df.where(c < F.lit(v))
        elif op == "<=":
            df = df.where(c <= F.lit(v))
        elif op == ">":
            df = df.where(c > F.lit(v))
        elif op == ">=":
            df = df.where(c >= F.lit(v))
        elif op == "between":
            df = df.where(c.between(F.lit(v[0]), F.lit(v[1])))
        elif op == "in":
            df = df.where(c.isin(*v))
        elif op == "prefix":
            df = df.where(c.startswith(v))
    return df


# ------------------------------------------------------- key bloom filters

# Iceberg records per-data-file bloom filters (puffin blobs / parquet
# bloom headers) so point lookups skip files inside a partition. This is
# that plane: at commit time ONE narrow Spark job hashes the merge keys of
# every just-written file (JVM xxhash64 — the very expression read_keys
# evaluates over its want-list at lookup time, so writer and reader agree
# by construction, no Python re-implementation of the hash) and records a
# ~10-bits/key blocked bitset per file in the same stats entry the min/max
# bounds live in.
#
# Soundness is STRONGER than min/max pruning's (stats.py header): a bloom
# can only produce false POSITIVES (keep a file the key isn't in), never
# false negatives, so dropping a no-hit file provably removes zero rows of
# any wanted key — which means file-granular skipping is sound even inside
# DIRTY (delta-carrying) buckets: a wanted key's latest-position resolution
# sees every row of that key regardless, and non-wanted keys are dropped by
# read_keys' exact-key filter whatever their (now possibly partial) resolution
# produced.
BLOOM_SEED2 = "cdc-bloom-h2"
BLOOM_BITS_PER_KEY = 10
BLOOM_K = 7  # ~0.8% FPR at 10 bits/key
BLOOM_MAX_FILE_ROWS = 2_000_000  # bigger files skip blooms (metadata size)
_U64 = (1 << 64) - 1


def _hash_cols(keys: list) -> list[F.Column]:
    """Bloom hash pair of the key columns (names or Columns)."""
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return [
        F.xxhash64(*cols).alias("h1"),
        F.xxhash64(F.lit(BLOOM_SEED2), *cols).alias("h2"),
    ]


def _bloom(h1, h2) -> dict:
    """One file's bloom over its rows' (h1, h2) uint64 hash pairs: m =
    BLOOM_BITS_PER_KEY bits per row rounded up to whole bytes (at least
    64), k probes at (h1 + i*h2) mod m."""
    import numpy as np

    m = max(64, ((BLOOM_BITS_PER_KEY * len(h1) + 7) // 8) * 8)
    bits = np.zeros(m // 8, dtype=np.uint8)
    for i in range(BLOOM_K):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(
            bits,
            (pos >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
        )
    return {
        "m": m,
        "k": BLOOM_K,
        "b64": base64.b64encode(bits.tobytes()).decode("ascii"),
    }


def attach_blooms(
    spark,
    table_path: str,
    data_rel: str,
    keys: list[str],
    rel_stats: dict,
    level: str = "delta",
) -> None:
    """Attach per-file merge-key blooms to a freshly collected stats dict
    (mutates `rel_stats[bucket][file]["bloom"]`).

    One narrow Spark job and no Python worker: the driver reads each
    file's footer row count and keeps the files of 1..BLOOM_MAX_FILE_ROWS
    rows (bigger files get no bloom, to bound the metadata size); one
    column-pruned scan of those files, given their footer schema so no
    inference job runs, returns each row's input file and _hash_cols pair
    as Arrow; the driver then groups the rows by file with numpy indices
    and builds each file's bitset (_bloom). O(written keys), the same
    asymptote as writing them.

    Default policy (CDC_LAKE_BLOOMS=delta): only DELTA commits build
    blooms — they are small (the job is noise next to the merge) and they
    are where point reads need membership info, because a dirty bucket
    accumulates many small files an exact key is in at most one of. BASE
    relations skip the bloom (measured ~13% on the single-big-COW bench
    apply) and are served by the free key min/max bounds instead, which
    compaction's sort_by=keys makes tight — the same split Iceberg
    reaches via write.parquet.bloom-filter-enabled on specific columns +
    sorted data files. CDC_LAKE_BLOOMS=all blooms every commit;
    CDC_LAKE_BLOOMS=0 disables."""
    mode = os.environ.get("CDC_LAKE_BLOOMS", "delta")
    if not rel_stats or mode == "0":
        return
    if level == "base" and mode != "all":
        return
    import numpy as np
    import pyarrow.parquet as pq

    files = [
        p for b, f, p in _rel_files(table_path, data_rel)
        if f in rel_stats.get(b, {})
    ]
    if not files:
        return
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
        n_rows = list(ex.map(lambda p: pq.read_metadata(p).num_rows, files))
    files = [
        p for p, n in zip(files, n_rows) if 0 < n <= BLOOM_MAX_FILE_ROWS
    ]
    if not files:
        return
    tbl = (
        spark.read.schema(_footer_schema(files[0]))
        .parquet(*files)
        .select(F.input_file_name().alias("_f"), *_hash_cols(keys))
        .toArrow()
    )
    f_enc = tbl.column("_f").combine_chunks().dictionary_encode()
    codes = f_enc.indices.to_numpy()
    order = np.argsort(codes, kind="stable")
    ends = np.cumsum(np.bincount(codes, minlength=len(f_enc.dictionary)))
    # xxhash64 is a signed long; the probes use its uint64 bit pattern
    h1 = tbl.column("h1").to_numpy().view(np.uint64)[order]
    h2 = tbl.column("h2").to_numpy().view(np.uint64)[order]
    start = 0
    for uri, end in zip(f_enc.dictionary.to_pylist(), ends.tolist()):
        bucket_dir, fname = uri.rsplit("/", 2)[-2:]
        entry = rel_stats[bucket_dir.split("=", 1)[1]][fname]
        entry["bloom"] = _bloom(h1[start:end], h2[start:end])
        start = end


def bloom_may_contain(bloom: dict, pairs: list[tuple[int, int]]) -> bool:
    """True iff ANY wanted (h1, h2) pair may be in the file. Arithmetic
    mirrors the numpy writer exactly: uint64 wraparound, k probes at
    (h1 + i*h2) mod m."""
    m, k = bloom["m"], bloom.get("k", BLOOM_K)
    bits = base64.b64decode(bloom["b64"])
    for h1, h2 in pairs:
        for i in range(k):
            p = ((h1 + i * h2) & _U64) % m
            if not (bits[p >> 3] >> (p & 7)) & 1:
                break
        else:
            return True
    return False


def prune_point(
    meta: dict,
    buckets: list[int],
    key_filters: list[tuple],
    hash_pairs: list[tuple[int, int]] | None,
) -> dict:
    """Scan plan for an exact-key want-list, same shape as prune()'s
    rel_files maps: {bucket: {rel: [filename,...] | None}}; skipped
    buckets absent. Unlike prune(), files drop INSIDE dirty buckets too
    (see the bloom soundness note above — exact-key pruning can never
    change a wanted key's resolution). Two independent gates per file,
    both conservative: recorded min/max bounds vs per-key-column IN-lists,
    then the key bloom vs the want-list's hash pairs."""
    stats = meta.get("stats", {})
    plan: dict[int, dict] = {}
    for b in buckets:
        sb = str(b)
        keep: dict[str, list | None] = {}
        any_survivor = False
        for rel in bucket_rels(meta, b):
            fmap = stats.get(rel, {}).get(sb)
            if fmap is None:
                keep[rel] = None  # no stats recorded: keep whole dir
                any_survivor = True
                continue
            names = []
            for f, entry in sorted(fmap.items()):
                if key_filters and not file_might_match(
                    entry["cols"], key_filters
                ):
                    continue
                bl = entry.get("bloom")
                if (
                    bl is not None
                    and hash_pairs is not None
                    and not bloom_may_contain(bl, hash_pairs)
                ):
                    continue
                names.append(f)
            if names:
                keep[rel] = names
                any_survivor = True
        if any_survivor:
            plan[b] = {
                "rel_files": {
                    rel: n for rel, n in keep.items() if n is None or n
                }
            }
    return plan


def gc_stats(meta: dict) -> None:
    """Drop stats entries for relations the CURRENT snapshot no longer
    references (older snapshots keep their own copies — metadata versions
    are immutable)."""
    live = set(meta.get("buckets", {}).values())
    for rels in meta.get("deltas", {}).values():
        live.update(rels)
    st = meta.get("stats")
    if st:
        for rel in [r for r in st if r not in live]:
            st.pop(rel)
