"""LakeTable: a snapshot-versioned, MERGE-able parquet table.

The north rule targets Iceberg MERGE; this sandbox image has no Iceberg jar
(verified: no iceberg/delta in pyspark jars), so this module provides the same
*semantics* on plain parquet, Iceberg-style:

  - snapshot isolation: readers see the version named by an atomically
    swapped pointer file (os.replace of metadata/LATEST — same trick as
    Iceberg's version-hint / HadoopTableOperations commit);
  - bucket-level copy-on-write + DELTA FILES (merge-on-read): data is
    hash-bucketed on the merge keys; a small MERGE appends per-bucket delta
    files holding only the resolved upserted rows (bytes written ~ batch
    size, NOT bucket size — a 1%-of-keys batch writes ~1% of table bytes),
    while large batches and delta-heavy buckets take the copy-on-write path
    that rewrites the bucket and folds its deltas in (compaction). Readers
    resolve per-key latest via the position-gate columns, and ONLY for
    buckets that actually carry deltas — delta-free buckets stay a plain
    scan. This is the Hudi/Iceberg MOR trade: steady-state write
    amplification is bounded (~2x worst case via the compaction threshold)
    instead of bucket-size/batch-size;
  - exactly-once sink: each commit records (stream_id, batch_id); replaying
    the same foreachBatch epoch after a crash is a no-op, which upgrades the
    reference's at-least-once + listener-exception-swallow delivery
    (shyikobinlog/BinaryLogEventProcessor.java:106-113) to effective
    exactly-once;
  - schema evolution: add-column is metadata-only (old files null-fill on
    read), rename / type-widen rewrite lazily on read and physically on the
    next touch of each bucket — the MariadbCdc SchemaChangedListener flow
    (MariadbCdc.java:131-133) lands here;
  - per-partition lineage: every commit stores max (binlog_file, binlog_pos)
    per server_id plus row metrics (the BinlogPositionSaver contract,
    MariadbCdc.java:116-125, made per-partition as the north rule requires).

On a real cluster the same class works unchanged on any shared filesystem
(the commit primitive is a single rename); swap-in of real Iceberg would
replace only this module.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mariadb_cdc_spark.sources import stats as file_stats
from mariadb_cdc_spark.sources import zorder


def _bucket_col(keys: list, n_buckets: int) -> F.Column:
    """Bucket id of the key columns (names or Columns). Callers pass keys
    of the table's key types (merge casts the fold's string keys first),
    so a row's bucket is the same on the write and the read path."""
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


class CommitConflict(Exception):
    """Another writer committed a version this commit was based on.

    Raised by the CAS commit path (`_write_metadata(expected_base=...)`)
    when the table's latest version is no longer the one this commit read.
    `merge` catches it: provably-disjoint winners are rebased onto
    metadata-only (Iceberg's snapshot-retry), overlapping ones trigger a
    full recompute against the new state.
    """

    def __init__(self, expected: int, actual: int):
        super().__init__(
            f"commit based on v{expected} but table is at v{actual}"
        )
        self.expected = expected
        self.actual = actual


def _rebase_ok(base: dict, latest: dict, affected: list[int]) -> bool:
    """True when a commit built on `base` can be replayed onto `latest`
    without recomputing data: the concurrent winner(s) must not have
    touched any affected bucket, changed the table's physical layout
    (keys/bucket count), truncated, or dropped/renamed a column our data
    files still carry. Schema ADDs by the winner are fine — _aligned_scan
    null-fills missing columns; schema REMOVALS are not (a rebase would
    re-append the dropped column from our stale-schema files), so the
    latest schema's names must be a superset of the base schema's."""
    if latest["keys"] != base["keys"]:
        return False
    if latest["n_buckets"] != base["n_buckets"]:
        return False
    if latest.get("position_floor") != base.get("position_floor"):
        return False
    if latest.get("truncate_epoch", 0) != base.get("truncate_epoch", 0):
        return False
    if not {n for n, _ in base["schema"]} <= {n for n, _ in latest["schema"]}:
        return False
    for b in affected:
        sb = str(b)
        if latest["buckets"].get(sb) != base["buckets"].get(sb):
            return False
        if latest.get("deltas", {}).get(sb, []) != base.get(
            "deltas", {}
        ).get(sb, []):
            return False
    return True


def _rebase(ours: dict, base: dict, latest: dict, affected: list[int]) -> dict:
    """Replay the metadata mutations of a commit built on `base` onto
    `latest` (which _rebase_ok validated as disjoint). Data files written
    by the commit stay valid — only pointers move. Mergeable fields merge
    (per-stream committed markers and per-server lineage take max; schema
    additions union); our bucket/delta pointers overwrite for the affected
    buckets only."""
    out = copy.deepcopy(latest)
    for b in affected:
        sb = str(b)
        if sb in ours["buckets"]:
            out["buckets"][sb] = ours["buckets"][sb]
        else:
            out["buckets"].pop(sb, None)
        for fld in ("deltas", "delta_bytes"):
            if sb in ours.get(fld, {}):
                out.setdefault(fld, {})[sb] = ours[fld][sb]
            else:
                out.setdefault(fld, {}).pop(sb, None)
    # file stats ride with their (uniquely-named) data relations: bring
    # ours along, then drop entries for rels the merged snapshot no longer
    # references (superseded by either side's pointer moves)
    for rel, st in ours.get("stats", {}).items():
        out.setdefault("stats", {}).setdefault(rel, st)
    file_stats.gc_stats(out)
    for sid, bid in ours.get("committed", {}).items():
        out["committed"][sid] = max(out["committed"].get(sid, -1), bid)
    _advance_lineage(out, ours.get("lineage"))
    have = {n for n, _ in out["schema"]}
    for n, s in ours["schema"]:
        if n not in have:
            out["schema"].append([n, s])
            have.add(n)
    ours_n = ours["metrics"].get("n_rows", 0)
    base_n = base["metrics"].get("n_rows", 0)
    out["metrics"]["n_rows"] = out["metrics"].get("n_rows", 0) + (
        ours_n - base_n
    )
    if ours.get("hot_keys"):
        out["hot_keys"] = ours["hot_keys"]
    return out


def _advance_lineage(meta: dict, lineage: dict | None) -> None:
    """Max-merge per-server binlog positions into `meta["lineage"]`: a
    commit never moves a server's checkpoint backwards."""
    for sid, pos in (lineage or {}).items():
        cur = meta["lineage"].get(str(sid))
        if cur is None or (pos["file"], pos["pos"]) >= (cur["file"], cur["pos"]):
            meta["lineage"][str(sid)] = pos


# Hidden per-row CDC columns: the binlog position that produced the row, plus
# a tombstone flag. They make MERGE *position-gated* — an update only applies
# if it is strictly newer than what the row already reflects, and deletes
# leave tombstones. Guarantees (test_e2e.py):
#   - replaying ANY suffix of already-applied events is a no-op (replayed
#     positions are never newer) — the at-least-once upgrade;
#   - full-row-image batches converge even applied OUT OF ORDER
#     (test_out_of_order_batches_converge_full_image);
#   - minimal-row-image streams additionally require in-order epoch
#     delivery, which Structured Streaming's sequential foreachBatch
#     provides (a row-level gate cannot make partial patches commutative —
#     that would need per-column write positions on every row).
# This is the "window/lag dedup" LWW rule from BASELINE.json enforced at the
# storage layer too.
CDC_FILE = "_cdc_file"
CDC_POS = "_cdc_pos"
CDC_IDX = "_cdc_idx"
CDC_DELETED = "_cdc_deleted"
_INTERNAL = [(CDC_FILE, "string"), (CDC_POS, "long"), (CDC_IDX, "int"),
             (CDC_DELETED, "boolean")]


class LakeTable:
    METADATA_DIR = "metadata"
    LATEST = "LATEST"
    # Per-batch change count above which a key is marked hot for the next
    # batch's skew-safe fold. A reducer folding ~100k changes is fine;
    # millions (zipfian repos at 10^10-event scale) are not.
    HOT_KEY_CHANGES = 100_000
    # MOR thresholds: a bucket compacts (COW rewrite folding its deltas)
    # when it carries this many delta files, or when accumulated delta
    # bytes exceed this fraction of its base bytes. Bounds read-side merge
    # cost and total write amplification (~1/COMPACT_BYTES_FRACTION extra).
    MAX_DELTA_FILES = 8
    COMPACT_BYTES_FRACTION = 0.25
    # Batches upserting more than this fraction of the table's rows skip
    # the delta path — at that size the COW rewrite is the cheaper plan.
    MOR_MAX_ROW_FRACTION = 0.2

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    # ------------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        keys: list[str],
        n_buckets: int = 16,
        initial: DataFrame | None = None,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(os.path.join(t.path, cls.METADATA_DIR), exist_ok=True)
        meta = {
            "version": 0,
            "schema": [[f.name, f.dataType.simpleString()] for f in schema.fields],
            "keys": keys,
            "n_buckets": n_buckets,
            "buckets": {},
            "deltas": {},       # bucket -> [delta data_rel, ...] (MOR)
            "delta_bytes": {},  # bucket -> accumulated delta bytes
            "committed": {},
            "lineage": {},
            "metrics": {"n_rows": 0},
            "stats": {},        # data_rel -> bucket -> file -> col bounds
            "ts": time.time(),
        }
        if initial is not None:
            data_rel = "data/v0"
            t._write_buckets(
                initial.withColumn("_bucket", _bucket_col(keys, n_buckets)),
                data_rel, n_buckets,
            )
            meta["buckets"] = {
                str(b): data_rel for b in t._present_buckets(data_rel)
            }
            meta["stats"][data_rel] = file_stats.collect_rel_stats(
                spark, t.path, data_rel
            )
            file_stats.attach_blooms(
                spark, t.path, data_rel, keys, meta["stats"][data_rel],
                level="base",
            )
            meta["metrics"]["n_rows"] = initial.count()
        t._write_metadata(meta)
        return t

    def _present_buckets(self, data_rel: str) -> list[int]:
        """Bucket partitions actually written (parquet partitionBy skips
        empty partitions — never map a bucket to a missing dir)."""
        base = os.path.join(self.path, data_rel)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("_bucket=")
        )

    def exists(self) -> bool:
        return os.path.exists(
            os.path.join(self.path, self.METADATA_DIR, self.LATEST)
        )

    # -------------------------------------------------------------- metadata
    def _write_metadata(self, meta: dict, expected_base: int | None = None) -> None:
        """Persist a metadata snapshot and swing LATEST to it.

        `expected_base=None` is the single-writer fast path (create,
        maintenance ops). With `expected_base`, the commit is COMPARE-AND-
        SWAP: it succeeds only if LATEST still names that version, else
        raises CommitConflict — the Iceberg atomic-swap contract. The swap
        is serialized by an flock on metadata/.commit.lock, the local-FS
        stand-in for the catalog's atomic pointer (HadoopTableOperations /
        a metastore lock on a real deployment)."""
        mdir = os.path.join(self.path, self.METADATA_DIR)
        if expected_base is None:
            self._swing(mdir, meta)
            return
        with open(os.path.join(mdir, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            latest_path = os.path.join(mdir, self.LATEST)
            cur = -1
            if os.path.exists(latest_path):
                with open(latest_path) as f:
                    cur = int(f.read().strip())
            if cur != expected_base:
                raise CommitConflict(expected_base, cur)
            self._swing(mdir, meta)

    def _swing(self, mdir: str, meta: dict) -> None:
        vfile = os.path.join(mdir, f"v{meta['version']}.json")
        with open(vfile, "w") as f:
            json.dump(meta, f)
        tmp = os.path.join(mdir, f".latest.tmp.{meta['version']}")
        with open(tmp, "w") as f:
            f.write(str(meta["version"]))
        os.replace(tmp, os.path.join(mdir, self.LATEST))  # atomic commit point

    def update_metadata(self, mutate, max_retries: int = 20) -> dict:
        """Optimistic METADATA-ONLY commit: read latest, apply `mutate(meta)`
        in place, CAS at version+1; on conflict re-read and re-apply.
        `mutate` must therefore be idempotent-against-fresh-state (merge
        markers with max, not assignment). This is how commits that touch
        no data files (batch markers, registry persistence, liveness)
        stay safe under concurrent writers."""
        if max_retries < 1:
            raise ValueError(f"max_retries must be >= 1, got {max_retries}")
        base = self.metadata()["version"]
        for _ in range(max_retries):
            meta = self.metadata()
            base = meta["version"]
            mutate(meta)
            meta["version"] = base + 1
            meta["ts"] = time.time()
            try:
                self._write_metadata(meta, expected_base=base)
                return meta
            except CommitConflict:
                continue
        raise CommitConflict(base, self.metadata()["version"])

    def _commit_optimistic(
        self,
        meta: dict,
        base_meta: dict,
        affected: list[int],
        new_rels: list[str],
    ) -> int:
        """CAS-commit a merge built on `base_meta`. On conflict: rebase
        metadata-only when every concurrent winner is disjoint from our
        affected buckets (their data files and ours are both valid), else
        remove our just-written data dirs and raise for a full recompute
        against the new table state."""
        expected = base_meta["version"]
        attempt = meta
        while True:
            attempt["version"] = expected + 1
            attempt["ts"] = time.time()
            try:
                self._write_metadata(attempt, expected_base=expected)
                return attempt["version"]
            except CommitConflict:
                latest = self.metadata()
                if not _rebase_ok(base_meta, latest, affected):
                    for rel in new_rels:
                        shutil.rmtree(
                            os.path.join(self.path, rel), ignore_errors=True
                        )
                    raise
                # always rebase the ORIGINAL commit (`meta`, built on
                # base_meta) onto the new latest — rebasing a previous
                # rebase would re-add the interim winner's n_rows delta,
                # which the new latest already contains
                attempt = _rebase(meta, base_meta, latest, affected)
                expected = latest["version"]

    def metadata(self, version: int | None = None) -> dict:
        mdir = os.path.join(self.path, self.METADATA_DIR)
        if version is None:
            with open(os.path.join(mdir, self.LATEST)) as f:
                version = int(f.read().strip())
        try:
            with open(os.path.join(mdir, f"v{version}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} not found (expired or never committed)"
            ) from None

    # ------------------------------------------------------------------ refs
    REFS = "refs.json"

    def tags(self) -> dict:
        """Named snapshot refs (the Iceberg tag equivalent): {name: version}."""
        p = os.path.join(self.path, self.METADATA_DIR, self.REFS)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _write_tags(self, tags: dict) -> None:
        mdir = os.path.join(self.path, self.METADATA_DIR)
        tmp = os.path.join(mdir, ".refs.tmp")
        with open(tmp, "w") as f:
            json.dump(tags, f)
        os.replace(tmp, os.path.join(mdir, self.REFS))

    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin a snapshot under a name (Iceberg tag): audited releases,
        eval-set freezes, pre-migration savepoints. Tagged versions are
        retention-exempt — expire_snapshots keeps them (and the files they
        reference) however old they get; delete_tag releases the pin.
        Metadata-only (a refs sidecar with the same atomic-replace commit
        as LATEST); single-writer like every mutation here."""
        v = int(version) if version is not None else self.metadata()["version"]
        self.metadata(v)  # raises if the version doesn't exist
        t = self.tags()
        if name in t and not replace:
            raise ValueError(f"tag {name!r} already exists (at v{t[name]})")
        t[name] = v
        self._write_tags(t)
        return v

    def rollback(self, version: int | None = None, tag: str | None = None) -> int:
        """Restore the table to an earlier snapshot (Iceberg
        rollback_to_snapshot): commit a NEW version whose metadata is a
        copy of the target's — history stays linear and auditable, no
        files move (the old version's files are still referenced, so
        retention keeps them). The bad-deploy recovery path; pairs with
        tags (`rollback(tag="pre-migration")`).

        Exactly-once markers and lineage roll back WITH the state: a
        stream resuming after a rollback sees the old checkpoint and
        re-applies the rolled-back range — deliberate, since replay
        converges by the same idempotence contract as any crash replay.
        """
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self.resolve_tag(tag)
        if version is None:
            raise ValueError("rollback needs a version or tag")
        cur = self.metadata()
        target = dict(self.metadata(int(version)))
        target["version"] = cur["version"] + 1
        target["rolled_back_from"] = cur["version"]
        target["rolled_back_to"] = int(version)
        target["ts"] = time.time()
        # CAS against the version we diagnosed as bad: if another writer
        # lands first, rolling back blind would silently discard its
        # commit — fail loudly and let the operator re-assess instead.
        self._write_metadata(target, expected_base=cur["version"])
        return target["version"]

    def delete_tag(self, name: str) -> None:
        t = self.tags()
        if name in t:
            del t[name]
            self._write_tags(t)

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise ValueError(f"unknown tag {name!r}")
        return t[name]

    def history(self) -> list[dict]:
        """Commit history (the Iceberg snapshots-metadata-table
        equivalent), one entry per RETAINED version: version, commit
        timestamp, cumulative row estimate, per-stream committed batch
        ids and the server_ids with checkpointed lineage. Pure driver-side
        metadata reads — O(retained versions), no Spark job."""
        mdir = os.path.join(self.path, self.METADATA_DIR)
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        out = []
        for v in versions:
            m = self.metadata(v)
            out.append(
                {
                    "version": v,
                    "ts": m.get("ts"),
                    "n_rows": m.get("metrics", {}).get("n_rows"),
                    "committed": dict(m.get("committed", {})),
                    "servers": sorted(m.get("lineage", {})),
                }
            )
        return out

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_seconds: float = 600.0
    ) -> dict:
        """Iceberg `expire_snapshots` equivalent: drop time-travel history
        older than the newest `keep_last` versions and delete data dirs no
        RETAINED version references.

        Reference-counted, not age-based deletion: a merge-on-read chain's
        current version still points at the base files of much older
        commits (meta['buckets'] values) plus its delta files, so those
        survive however old their commit is — only commit dirs every
        retained version has superseded are removed. Pure driver-side
        metadata work (O(versions) json reads + one rmtree per orphaned
        commit dir); no Spark job, no data read — the same shape Iceberg
        uses, which is what keeps maintenance viable on a 100 TB table
        with thousands of commits. Reads of expired versions fail with a
        clear error; reads of retained versions (and LATEST) are
        untouched.

        Doubles as orphan GC, SAFE under concurrent writers via two guards
        (Iceberg's expire + remove_orphan_files take the same two):
        (1) the whole pass holds the commit flock, so no metadata swing
        can land between reading LATEST and computing the retained set —
        a dir referenced only by EXPIRED versions is provably superseded
        (its commit landed and every retained version has replaced it)
        and is deleted immediately; (2) a dir referenced by NO version at
        all is ambiguous — either crash debris OR a concurrent merge's
        just-written parquet whose CAS swap hasn't happened yet (merges
        write data BEFORE taking the lock) — so never-referenced dirs
        younger than `orphan_grace_seconds` are skipped. Genuine crash
        debris is collected on the first expire after the grace window;
        in-flight commits resolve themselves (win → referenced, lose →
        their own recompute path rmtree's the dir).
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        mdir = os.path.join(self.path, self.METADATA_DIR)
        now = time.time()
        with open(os.path.join(mdir, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            latest = self.metadata()["version"]
            versions = sorted(
                int(f[1:-5])
                for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".json")
            )
            cutoff = latest - keep_last + 1
            tagged = set(self.tags().values())  # tag-pinned: retention-exempt
            kept = [v for v in versions if v >= cutoff or v in tagged]
            expired = [v for v in versions if v < cutoff and v not in tagged]
            retained: set[str] = set()
            referenced_any: set[str] = set()
            for v in versions:
                m = self.metadata(v)
                rels = set(m["buckets"].values())
                for drels in m.get("deltas", {}).values():
                    rels.update(drels)
                referenced_any.update(rels)
                if v in kept:
                    retained.update(rels)
            removed = []
            skipped_young = []
            droot = os.path.join(self.path, "data")
            if os.path.isdir(droot):
                for d in sorted(os.listdir(droot)):
                    rel = f"data/{d}"
                    if rel in retained:
                        continue
                    full = os.path.join(droot, d)
                    if rel not in referenced_any:
                        # possibly an in-flight concurrent commit's dir
                        try:
                            age = now - os.path.getmtime(full)
                        except OSError:
                            continue  # gone (loser-commit cleanup raced us)
                        if age < orphan_grace_seconds:
                            skipped_young.append(rel)
                            continue
                    shutil.rmtree(full, ignore_errors=True)
                    removed.append(rel)
            for v in expired:
                os.remove(os.path.join(mdir, f"v{v}.json"))
        return {
            "expired": expired,
            "removed_dirs": removed,
            "kept": kept,
            "skipped_young": skipped_young,
        }

    @property
    def schema(self) -> T.StructType:
        meta = self.metadata()
        return T.StructType(
            [T.StructField(n, _parse_type(s), True) for n, s in meta["schema"]]
        )

    # ------------------------------------------------------------------ read
    def read(self, version: int | None = None, tag: str | None = None) -> DataFrame:
        """Current snapshot as a DataFrame, aligned to the logical schema.

        Buckets written before an add-column/widen are aligned on read
        (missing -> null, cast to logical type) — Iceberg-style lazy schema
        evolution without rewriting history. Tombstones are filtered out.
        Delta-carrying buckets resolve per-key latest (merge-on-read);
        delta-free buckets are a plain scan. `tag` reads a named snapshot
        ref (mutually exclusive with `version`).
        """
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self.resolve_tag(tag)
        meta = self.metadata(version)
        df = self._read_state(meta, sorted(_live_buckets(meta)))
        return df.where(~F.coalesce(F.col(CDC_DELETED), F.lit(False))).select(
            *[n for n, _ in meta["schema"]]
        )

    def read_keys(
        self,
        key_rows: dict | list[dict] | DataFrame,
        version: int | None = None,
    ) -> DataFrame:
        """Bucket-pruned point reads: resolve each requested key's bucket
        with the same hash the writer used, scan ONLY those buckets, then
        keep only the exact keys.

        The Iceberg bucket-partition-pruning equivalent for this format: at
        100 TB / 4096 buckets a single-key lookup reads 1/4096th of the
        table (one bucket's base + deltas) instead of a full scan.

        `key_rows` is one dict (single key) or a list of dicts (a small
        driver-side want-list: planned on the driver with no Spark job —
        see _point_lookup — and filtered exactly on its key literals), or a
        DATAFRAME with the merge-key columns — the scale path (round-3
        verdict task 4): a want-list of any size stays distributed
        end-to-end; the only driver materialization is the DISTINCT
        BUCKET-ID set (bounded O(n_buckets) rows, never O(keys)), and the
        semi-join is left to AQE to broadcast when the want-list turns out
        small.
        """
        meta = self.metadata(version)
        keys, n_buckets = meta["keys"], meta["n_buckets"]
        if isinstance(key_rows, DataFrame):
            types = dict(meta["schema"])
            missing = sorted(set(keys) - set(key_rows.columns))
            if missing:
                raise ValueError(
                    f"lookup DataFrame missing key columns: {missing}"
                )
            want = key_rows.select(
                *[
                    F.col(k).cast(_parse_type(types[k])).alias(k)
                    for k in keys
                ]
            ).dropDuplicates(keys)
            # bucket granularity only — file pruning would need the key
            # set on the driver, exactly the O(keys) materialization this
            # path exists to avoid.
            hit = {
                int(r["b"])
                for r in want.select(
                    _bucket_col(keys, n_buckets).alias("b")
                ).distinct().collect()
            }
            df = self._read_state(meta, sorted(hit)).join(
                want, on=keys, how="left_semi"
            )
        else:
            _, plan, match = self._point_lookup(meta, key_rows)
            df = self._read_state_plan(meta, plan).where(match)
        return df.where(~F.coalesce(F.col(CDC_DELETED), F.lit(False))).select(
            *[n for n, _ in meta["schema"]]
        )

    def _point_lookup(
        self, meta: dict, key_rows: dict | list[dict]
    ) -> tuple[list[int], dict, Column]:
        """Plan a driver-side want-list without a Spark job: (live buckets
        hit, stats.prune_point file plan, exact-key predicate).

        Each wanted key becomes literals cast to the table's key types;
        the bucket id and the bloom hash pairs are the writer's own JVM
        xxhash64 expressions (_bucket_col, stats._hash_cols) evaluated
        over those literals from a one-row local relation, which Spark
        constant-folds on the driver. Values are type-checked exactly as
        createDataFrame verifies them. A key with a NULL part matches
        nothing (as an equi-join), so it is dropped before planning; the
        predicate is then an IN over key structs, which with non-NULL
        literals equals the per-key AND of equalities — never the
        per-column IN-lists' cross product."""
        keys, n_buckets = meta["keys"], meta["n_buckets"]
        types = dict(meta["schema"])
        rows = [key_rows] if isinstance(key_rows, dict) else list(key_rows)
        if not rows:
            raise ValueError("read_keys needs at least one key")
        missing = sorted({k for k in keys for r in rows if k not in r})
        if missing:
            raise ValueError(f"lookup rows missing key columns: {missing}")
        key_types = [_parse_type(types[k]) for k in keys]
        verify = T._make_type_verifier(
            T.StructType([T.StructField(k, t) for k, t in zip(keys, key_types)])
        )
        wanted = [tuple(r[k] for k in keys) for r in rows]
        for vals in wanted:
            verify(vals)
        wanted = list(dict.fromkeys(v for v in wanted if None not in v))
        if not wanted:
            return [], {}, F.lit(False)
        lits = [
            [F.lit(v).cast(t) for v, t in zip(vals, key_types)]
            for vals in wanted
        ]
        sel = (
            self.spark.sql("VALUES (0)")
            .select(
                F.array(
                    *[
                        F.struct(
                            _bucket_col(ls, n_buckets).alias("b"),
                            *file_stats._hash_cols(ls),
                        )
                        for ls in lits
                    ]
                )
            )
            .collect()[0][0]
        )
        hit = sorted({int(r["b"]) for r in sel} & _live_buckets(meta))
        u64 = (1 << 64) - 1
        pairs = [(r["h1"] & u64, r["h2"] & u64) for r in sel]
        key_filters = file_stats.validate_filters(
            [
                (k, "in", sorted({vals[i] for vals in wanted}, key=repr))
                for i, k in enumerate(keys)
            ]
        )
        plan = file_stats.prune_point(meta, hit, key_filters, pairs)
        match = F.struct(*[F.col(k) for k in keys]).isin(
            *[
                F.struct(*[c.alias(k) for c, k in zip(ls, keys)])
                for ls in lits
            ]
        )
        return hit, plan, match

    def _plan_where(self, filters: list[tuple], version: int | None):
        meta = self.metadata(version)
        filters = file_stats.validate_filters(filters)
        schema_cols = {n for n, _ in meta["schema"]}
        bad = sorted({c for c, _, _ in filters} - schema_cols)
        if bad:
            raise ValueError(f"unknown filter columns: {bad}")
        plan = file_stats.prune(meta, sorted(_live_buckets(meta)), filters)
        return meta, filters, plan

    def read_where(
        self, filters: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Stats-pruned predicate scan (the Iceberg planFiles path): skip
        every bucket — and, inside clean buckets, every FILE — whose
        recorded min/max bounds (stats.py; collected from parquet footers
        at commit time) prove the AND-of-filters predicate cannot match.
        The exact predicate is re-applied in Spark, so pruning only ever
        saves IO. At 100 TB this is the difference between "scan the
        table" and "open the handful of files whose [lo, hi] overlaps the
        ask" for any selective non-key predicate — the complement of
        read_keys' hash-bucket pruning, which only serves exact key
        lookups.

        `filters`: [(col, op, value), ...] ANDed; op in {=, <, <=, >, >=,
        between, in, prefix}. Dirty (delta-carrying) buckets are scanned
        whole and latest-per-key resolved BEFORE filtering — anchored
        delta appends mean a stale matching row must lose to its newer
        non-matching version, so per-file pruning inside such buckets
        would be unsound (stats.py module docstring)."""
        meta, filters, plan = self._plan_where(filters, version)
        df = file_stats.residual_filter(
            self._read_state_plan(meta, plan), filters
        )
        return df.where(
            ~F.coalesce(F.col(CDC_DELETED), F.lit(False))
        ).select(*[n for n, _ in meta["schema"]])

    def pruning_plan(
        self, filters: list[tuple], version: int | None = None
    ) -> dict:
        """What read_where would scan vs what is live — the explain/probe
        companion (files and bytes from the recorded stats; relations
        without stats count as fully scanned)."""
        meta, _, plan = self._plan_where(filters, version)
        return _plan_sizes(meta, plan)

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Iceberg-changelog-style incremental read: the NET row-level
        changes between two committed snapshots, as
        (change_type, <logical columns>) with change_type in
        {'insert', 'update_before', 'update_after', 'delete'} — an update
        emits a before and an after row (the Spark/Delta CDF + Flink
        retract convention), so downstream aggregates can be maintained
        by subtraction (the same contract operators/ivm.py consumes from
        live merges).

        Scale shape: only buckets whose base file or delta list CHANGED
        between the two versions are read, on both sides — the snapshot
        diff never scans untouched data, so reading the changes of a
        1%-of-buckets batch at 100 TB costs ~2 x 1% of the table, not
        2 x 100 TB. The classification join is keyed on the merge keys
        within touched buckets only.

        Rows are aligned to the TO version's schema (columns added in
        between read as null on the before-side; a rename shows up as the
        new name, null before the rename batch touched the key).
        """
        m0 = self.metadata(from_version)
        m1 = self.metadata(to_version)
        if m1["version"] < m0["version"]:
            raise ValueError(
                f"to_version {m1['version']} precedes from_version "
                f"{m0['version']}"
            )
        keys = m1["keys"]
        logical = m1["schema"]
        cols = [n for n, _ in logical]
        vals = [c for c in cols if c not in keys]

        def _sig(meta, b):
            return (
                meta["buckets"].get(str(b)),
                tuple(meta.get("deltas", {}).get(str(b), [])),
            )

        every = (
            {int(b) for b in m0["buckets"]}
            | {int(b) for b in m1["buckets"]}
            | {int(b) for b, r in m0.get("deltas", {}).items() if r}
            | {int(b) for b, r in m1.get("deltas", {}).items() if r}
        )
        touched = sorted(b for b in every if _sig(m0, b) != _sig(m1, b))

        def _live(meta):
            df = self._read_state(meta, touched)
            df = df.where(~F.coalesce(F.col(CDC_DELETED), F.lit(False)))
            return df.select(
                *[
                    (
                        F.col(n).cast(_parse_type(s))
                        if n in df.columns
                        else F.lit(None).cast(_parse_type(s))
                    ).alias(n)
                    for n, s in logical
                ]
            )

        old = _live(m0).select(
            *keys,
            *[F.col(c).alias(f"_o_{c}") for c in vals],
            F.lit(True).alias("_o_present"),
        )
        new = _live(m1).select(
            *keys,
            *[F.col(c).alias(f"_n_{c}") for c in vals],
            F.lit(True).alias("_n_present"),
        )
        j = old.join(new, keys, "full_outer")
        differs = F.lit(False)
        for c in vals:
            differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))

        def _emit(pred, side, ctype):
            return j.where(pred).select(
                F.lit(ctype).alias("change_type"),
                *keys,
                *[F.col(f"_{side}_{c}").alias(c) for c in vals],
            )

        only_new = F.col("_n_present") & F.col("_o_present").isNull()
        only_old = F.col("_o_present") & F.col("_n_present").isNull()
        both_diff = F.col("_o_present") & F.col("_n_present") & differs
        out = (
            _emit(only_new, "n", "insert")
            .unionByName(_emit(both_diff, "o", "update_before"))
            .unionByName(_emit(both_diff, "n", "update_after"))
            .unionByName(_emit(only_old, "o", "delete"))
        )
        return out.select("change_type", *cols)

    def _read_state(self, meta: dict, buckets: list[int]) -> DataFrame:
        """base ∪ deltas of whole `buckets`, per-key LATEST-position
        resolved: the _read_state_plan of every relation they hold."""
        plan = {}
        for b in buckets:
            rels = file_stats.bucket_rels(meta, b)
            if rels:
                plan[b] = {"rel_files": dict.fromkeys(rels)}
        return self._read_state_plan(meta, plan)

    def _read_state_plan(self, meta: dict, plan: dict) -> DataFrame:
        """State rows of an explicit FILE-level scan plan
        ({bucket: {"rel_files": {rel: [filename] | None}}}, None = the
        relation's whole bucket dir; the stats.prune / prune_point shape).
        Clean buckets stream through; only delta-carrying buckets pay one
        latest-per-key resolution shuffle over all their rows. Soundness
        of a plan that drops files inside a dirty bucket is the caller's
        (exact-key reads only: no file holding a wanted key is dropped —
        stats.py bloom soundness note). One aligned scan per relation and
        cleanliness class: relations differ in physical schema."""
        deltas = meta.get("deltas", {})
        logical = list(meta["schema"]) + _INTERNAL
        plain_by_rel: dict[str, list[str]] = {}
        dirty_by_rel: dict[str, list[str]] = {}
        for b, entry in plan.items():
            tgt = dirty_by_rel if deltas.get(str(b)) else plain_by_rel
            for rel, names in entry["rel_files"].items():
                d = os.path.join(self.path, rel, f"_bucket={b}")
                tgt.setdefault(rel, []).extend(
                    [d]
                    if names is None
                    else [os.path.join(d, f) for f in names]
                )
        parts = [
            self._aligned_scan(paths, logical)
            for paths in plain_by_rel.values()
        ]
        dirty = [
            self._aligned_scan(paths, logical)
            for paths in dirty_by_rel.values()
        ]
        if dirty:
            parts.append(_latest_per_key(_union(dirty), meta["keys"]))
        if not parts:
            return self.spark.createDataFrame(  # typed empty
                [],
                T.StructType(
                    [T.StructField(n, _parse_type(s)) for n, s in logical]
                ),
            )
        return _union(parts)

    def point_plan(
        self, key_rows: dict | list[dict], version: int | None = None
    ) -> dict:
        """What read_keys would scan for this want-list vs what is live —
        the explain/probe companion of pruning_plan for exact-key reads
        (bucket hash pruning + min/max bounds + per-file key blooms)."""
        meta = self.metadata(version)
        hit, plan, _ = self._point_lookup(meta, key_rows)
        return {**_plan_sizes(meta, plan), "buckets_hit": len(hit)}

    # ----------------------------------------------------------------- merge
    def merge(
        self,
        folded: DataFrame,
        *,
        stream_id: str = "default",
        batch_id: int | None = None,
        lineage: dict | None = None,
        cast_types: bool = True,
        max_commit_retries: int = 10,
    ) -> dict:
        """MERGE with optimistic concurrency (Iceberg commit semantics).

        Multiple writers may merge into the same table concurrently: each
        attempt reads a base snapshot, writes its data files under unique
        dirs, and CAS-commits. A concurrent winner that touched none of
        this merge's buckets is absorbed by a metadata rebase (zero
        recompute — the common case for disjoint streams / multi-table
        capture); an overlapping winner forces a full recompute against
        the new state, up to `max_commit_retries` times. Exactly-once
        markers survive either path: the recompute re-reads the committed
        (stream_id, batch_id) watermark, so a batch another worker already
        landed degrades to a no-op. See _merge_once for MERGE semantics.

        Progress bound: exactly one CAS winner commits per conflict round,
        so a merge racing W concurrent writers recomputes at most W-1 times
        — `max_commit_retries` is a writer-count budget, not a timeout.
        Jittered backoff desynchronizes the losers' recomputes.
        """
        import random

        last: CommitConflict | None = None
        for attempt in range(max_commit_retries + 1):
            if attempt:
                time.sleep(random.uniform(0, min(0.1 * attempt, 1.0)))
            try:
                return self._merge_once(
                    folded,
                    stream_id=stream_id,
                    batch_id=batch_id,
                    lineage=lineage,
                    cast_types=cast_types,
                )
            except CommitConflict as e:
                last = e
        raise last

    def _merge_once(
        self,
        folded: DataFrame,
        *,
        stream_id: str = "default",
        batch_id: int | None = None,
        lineage: dict | None = None,
        cast_types: bool = True,
    ) -> dict:
        """MERGE the folded change set into the table (single attempt).

        `folded` must have: the key columns, final_op ('UPSERT'|'DELETE') and
        image map<string,string> (from operators.fold.fold_changes).
        Semantics == Iceberg/ANSI MERGE with source rows unique per key:
          WHEN MATCHED AND final_op='DELETE' THEN DELETE
          WHEN MATCHED THEN UPDATE SET col = coalesce(image[col], t.col)
          WHEN NOT MATCHED AND final_op!='DELETE' THEN INSERT (image cols)
        The per-column coalesce implements binlog_row_image=minimal partial
        updates (reference README.md:200-235).

        Invariant: bucket = xxhash64 of the key columns CAST TO THE TABLE'S
        KEY TYPES — the hash read_keys and _rewrite use. `_bucket` is
        computed once on the change set and every written dir is
        partitioned on that column, never re-hashed (the fold's keys are
        strings; a bigint key hashes elsewhere as a string).

        Each affected bucket gets one plan:
          fresh  when NO affected bucket holds data (initial load, brand-new
                 key space): rows come straight from the fold, no join;
          cow    every bucket of a batch upserting more than
                 MOR_MAX_ROW_FRACTION of the table's rows, otherwise only
                 the buckets whose delta debt crossed MAX_DELTA_FILES or
                 COMPACT_BYTES_FRACTION: rewrite state + batch, folding the
                 bucket's deltas back in (compaction);
          delta  every other bucket: append a delta file holding only the
                 batch's resolved rows (bytes ~ batch, not bucket size).
        Fresh and cow rows go to one base dir, delta rows to one delta dir,
        and both land under ONE CAS commit, so readers never see half a
        batch. `mode` names the plan (fresh, delta, cow, hybrid for cow +
        delta, none for an empty epoch); `plan` counts buckets per kind.

        Delta rows: ANCHORED rows (the fold proved their image definitive —
        an INSERT / complete UPDATE / DELETE reset it) append with no
        table-state read; the read side resolves per-key latest by
        position, so a stale delta row can never win (the Hudi-MOR insert
        path). UNANCHORED rows (patch-only histories under binlog_row_image=
        minimal) resolve against current state, reading only their own
        delta buckets. Folds without the `anchored` flag resolve every row —
        slower, never wrong.

        Exactly-once: if (stream_id, batch_id) was already committed the call
        is a no-op and returns the recorded metrics.
        """
        meta = self.metadata()
        keys, n_buckets = meta["keys"], meta["n_buckets"]
        if batch_id is not None:
            done = meta["committed"].get(stream_id, -1)
            if batch_id <= done:
                return {"skipped": True, "version": meta["version"]}

        # Immutable base snapshot for conflict detection/rebase — `meta` is
        # mutated in place from here on (hot keys, schema adds, pointers).
        base_meta = copy.deepcopy(meta)
        version = meta["version"] + 1
        floor = meta.get("position_floor")
        if floor:
            # Data-reset floor (TRUNCATE): changes at or below the
            # truncating statement's position are replays of removed data.
            folded = folded.where(
                F.struct("last_file", "last_pos")
                > F.struct(
                    F.lit(floor["file"]).alias("last_file"),
                    F.lit(int(floor["pos"])).alias("last_pos"),
                )
            )
        types = dict(meta["schema"])
        u = folded.withColumn(
            "_bucket",
            _bucket_col(
                [F.col(k).cast(_parse_type(types[k])) for k in keys], n_buckets
            ),
        ).persist()

        # One pass over the (small, one-row-per-key) folded set collects both
        # the affected buckets and the observed image columns; the persist
        # keeps the fold from recomputing for the writes below.
        # `anchored` (when the fold provides it) marks rows whose image is
        # definitive without prior state; the buckets of unanchored
        # (patch-only) rows scope the delta side's table-state read.
        unanchored_cond = (
            (~F.col("anchored")) & (F.col("final_op") != F.lit("DELETE"))
            if "anchored" in u.columns
            else F.lit(True)
        )
        stats = u.agg(
            F.collect_set("_bucket").alias("bks"),
            F.count(F.lit(1)).alias("n"),
            F.array_distinct(
                F.flatten(F.collect_set(F.map_keys(F.col("image"))))
            ).alias("cols"),
            F.collect_set(F.when(unanchored_cond, F.col("_bucket"))).alias(
                "unanch_bks"
            ),
            # Learned skew: keys whose fold absorbed a huge change count this
            # batch. Fed back into the next batch's fold as its two-phase hot
            # set (operators.fold.fold_changes two_phase="auto").
            F.slice(
                F.collect_list(
                    F.when(
                        F.col("n_changes") >= F.lit(self.HOT_KEY_CHANGES),
                        F.struct(*keys),
                    )
                ),
                1,
                10000,
            ).alias("hot"),
        ).collect()[0]
        affected = sorted(stats["bks"])
        n_upserts = int(stats["n"])
        unanchored = {b for b in stats["unanch_bks"] if b is not None}
        meta["hot_keys"] = [[r[k] for k in keys] for r in stats["hot"]]
        deltas = meta.setdefault("deltas", {})
        dbytes = meta.setdefault("delta_bytes", {})

        # schema evolution: image keys not yet in the schema become new
        # string columns (metadata-only; DDL-driven typed evolution goes
        # through add_column/rename_column/widen_column).
        known = {n for n, _ in meta["schema"]}
        for c in sorted(set(stats["cols"]) - known):
            meta["schema"].append([c, "string"])
        logical = meta["schema"]

        big = n_upserts > self.MOR_MAX_ROW_FRACTION * max(
            meta["metrics"].get("n_rows") or 0, 1
        )
        if not any(
            str(b) in meta["buckets"] or deltas.get(str(b)) for b in affected
        ):
            plan = dict.fromkeys(affected, "fresh")
        else:
            plan = {
                b: "cow"
                if big
                or len(deltas.get(str(b), [])) >= self.MAX_DELTA_FILES
                or dbytes.get(str(b), 0)
                > self.COMPACT_BYTES_FRACTION * max(self._base_bytes(meta, b), 1)
                else "delta"
                for b in affected
            }
        fresh, delta, cow = (
            [b for b in affected if plan[b] == k]
            for k in ("fresh", "delta", "cow")
        )

        def rows_in(buckets: list[int]) -> DataFrame:
            if len(buckets) == len(affected):
                return u
            return u.where(F.col("_bucket").isin(buckets))

        # (rel, buckets, rows, stats level). Fresh and cow never share a
        # batch: fresh means no affected bucket has state to rewrite. An
        # empty epoch (idle stream / heartbeat-only batch) writes no dir:
        # marker and lineage commit METADATA-ONLY with affected=[], so any
        # concurrent winner rebases cleanly and idle triggers leave no junk
        # data dirs for retention to chase. Unique dir per attempt:
        # concurrent writers (and conflict-retried attempts) must never
        # collide on a data path before the CAS decides the winner; losers'
        # dirs become orphans that expire_snapshots GCs.
        dirs = []
        if fresh or cow:
            rows = (
                self._rows_from_fold(u, logical, keys, cast_types) if fresh
                else self._cow_frame(rows_in(cow), meta, cow, cast_types)
            )
            dirs.append((f"data/v{version}-{uuid.uuid4().hex[:8]}",
                         fresh or cow, rows, "base"))
        if delta:
            resolve = [b for b in delta if b in unanchored]
            rows = self._delta_frame(rows_in(delta), meta, resolve, cast_types)
            dirs.append((f"data/d{version}-{uuid.uuid4().hex[:8]}",
                         delta, rows, "delta"))
        for rel, buckets, frame, _ in dirs:
            self._write_buckets(frame, rel, len(buckets))
        u.unpersist()

        for rel, buckets, _, level in dirs:
            written = self._present_buckets(rel)
            if level == "base":
                present = set(written)
                for b in buckets:
                    if b in present:
                        meta["buckets"][str(b)] = rel
                    else:
                        meta["buckets"].pop(str(b), None)
                    # the rewrite folded this bucket's deltas into the base
                    deltas.pop(str(b), None)
                    dbytes.pop(str(b), None)
            else:
                for b in written:
                    deltas.setdefault(str(b), []).append(rel)
                    dbytes[str(b)] = dbytes.get(str(b), 0) + _dir_bytes(
                        os.path.join(self.path, rel, f"_bucket={b}")
                    )
            if written:
                meta.setdefault("stats", {})[rel] = (
                    file_stats.collect_rel_stats(self.spark, self.path, rel)
                )
                file_stats.attach_blooms(
                    self.spark, self.path, rel, keys, meta["stats"][rel],
                    level=level,
                )
        file_stats.gc_stats(meta)
        if batch_id is not None:
            meta["committed"][stream_id] = batch_id
        _advance_lineage(meta, lineage)
        # Upper-bound row estimate feeding the MOR/COW decision only (an
        # overestimate biases toward deltas, which compaction bounds).
        meta["metrics"]["n_rows"] = (
            meta["metrics"].get("n_rows", 0) + n_upserts
        )
        version = self._commit_optimistic(
            meta, base_meta, affected, [rel for rel, *_ in dirs]
        )
        kinds = [k for k in ("fresh", "delta", "cow") if k in plan.values()]
        return {
            "skipped": False,
            "version": version,
            "buckets": len(affected),
            "mode": "hybrid" if len(kinds) > 1 else (kinds or ["none"])[0],
            "plan": {"fresh": len(fresh), "delta": len(delta), "cow": len(cow)},
            "compacted_buckets": len(cow),
        }

    def _write_buckets(self, df: DataFrame, rel: str, n_parts: int) -> None:
        """Write `df` to relation `rel`, partitioned on its `_bucket`
        column (hash-repartitioned into `n_parts` tasks first)."""
        (
            df.repartition(max(n_parts, 1), "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(os.path.join(self.path, rel))
        )

    def _cow_frame(
        self, u: DataFrame, meta: dict, buckets: list[int],
        cast_types: bool = True,
    ) -> DataFrame:
        """The copy-on-write MERGE frame for `buckets`: full-outer join of
        current state (bases + deltas resolved) against the folded change
        set, position-gated per key. Batch rows keep their `_bucket`;
        state rows the batch does not touch take the bucket of their
        stored keys, which are already of the table's key types."""
        keys = meta["keys"]
        logical = meta["schema"]
        target = self._read_state(meta, buckets)
        t = target.alias("t")
        s = u.alias("u")
        cond = [F.col(f"t.{k}") == F.col(f"u.{k}") for k in keys]
        joined = t.join(s, cond, "full_outer")

        matched = F.col("u.final_op").isNotNull()
        take_u = matched & _batch_row_newer()
        deleting = take_u & (F.col("u.final_op") == F.lit("DELETE"))

        out_cols = []
        for n, st in logical:
            typ = _parse_type(st)
            img_val = F.col("u.image").getItem(n)
            if cast_types:
                img_val = img_val.cast(typ)
            tcol = F.col(f"t.{n}") if n in target.columns else F.lit(None).cast(typ)
            if n in keys:
                out_cols.append(F.coalesce(tcol, F.col(f"u.{n}").cast(typ)).alias(n))
            else:
                # tombstoned target rows keep no data; a newer patch rebuilds
                # from the image alone (coalesce over nulls)
                base = (
                    F.when(
                        F.coalesce(F.col(f"t.{CDC_DELETED}"), F.lit(False)),
                        F.lit(None),
                    )
                    .otherwise(tcol)
                    .cast(typ)
                )
                out_cols.append(
                    F.when(deleting, F.lit(None).cast(typ))
                    .when(take_u, F.coalesce(img_val, base))
                    .otherwise(tcol)
                    .alias(n)
                )
        out_cols.extend(
            [
                F.when(take_u, F.col("u.last_file"))
                .otherwise(F.col(f"t.{CDC_FILE}"))
                .alias(CDC_FILE),
                F.when(take_u, F.col("u.last_pos"))
                .otherwise(F.col(f"t.{CDC_POS}"))
                .alias(CDC_POS),
                F.when(take_u, F.col("u.last_row_idx"))
                .otherwise(F.col(f"t.{CDC_IDX}"))
                .alias(CDC_IDX),
                F.when(take_u, F.col("u.final_op") == F.lit("DELETE"))
                .otherwise(F.coalesce(F.col(f"t.{CDC_DELETED}"), F.lit(False)))
                .alias(CDC_DELETED),
                F.coalesce(
                    F.col("u._bucket"),
                    _bucket_col([f"t.{k}" for k in keys], meta["n_buckets"]),
                ).alias("_bucket"),
            ]
        )
        return joined.select(*out_cols)

    def _rows_from_fold(
        self, u: DataFrame, logical: list, keys: list[str], cast_types: bool
    ) -> DataFrame:
        """Build storage rows straight from folded upserts: image values
        aligned to the logical schema (absent = NULL — valid exactly when
        the image is definitive: empty target, or an anchored fold row),
        DELETEs as tombstones, position-gate columns attached."""
        out_cols = []
        for n, st in logical:
            typ = _parse_type(st)
            if cast_types and n in keys:
                out_cols.append(F.col(f"u.{n}").cast(typ).alias(n))
            elif n in keys:
                out_cols.append(F.col(f"u.{n}").alias(n))
            else:
                img_val = F.col("u.image").getItem(n)
                out_cols.append(
                    F.when(
                        F.col("u.final_op") == F.lit("DELETE"),
                        F.lit(None).cast(typ),
                    )
                    .otherwise(img_val.cast(typ) if cast_types else img_val)
                    .alias(n)
                )
        return u.alias("u").select(*out_cols, *_batch_row_gate())

    def _aligned_scan(self, paths: list[str], logical: list) -> DataFrame:
        """Scan bucket dirs or files of ONE relation, aligned to the
        logical schema (missing columns null-fill, present columns cast —
        lazy schema evolution). The physical schema is the relation's
        footer schema (stats._footer_schema), so no inference job runs.
        One relation per call is an invariant, not a convenience: every
        file of a relation shares its writer's schema, while two relations
        may not (add_column, then a rewrite of one bucket), and a scan
        reads a column only if the one schema it is given names it."""
        schema = file_stats._footer_schema(paths[0])
        df = self.spark.read.schema(schema).parquet(*paths)
        return df.select(
            *[
                (
                    F.col(n).cast(_parse_type(s))
                    if n in df.columns
                    else F.lit(None).cast(_parse_type(s))
                ).alias(n)
                for n, s in logical
            ]
        )

    # ------------------------------------------------------- schema evolution
    def add_column(self, name: str, spark_type: str = "string") -> None:
        """Metadata-only ADD COLUMN (old files null-fill on read). CAS
        commit (update_metadata): safe to race concurrent merges — the
        mutator re-applies onto whichever snapshot wins."""
        def mut(meta: dict) -> None:
            if not any(n == name for n, _ in meta["schema"]):
                meta["schema"].append([name, spark_type])

        self.update_metadata(mut)

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN — physical rewrite (Iceberg does this by column-id
        indirection; plain parquet has no ids, so rewrite; DDL is rare).
        The schema edit commits atomically WITH the rewrite (one CAS swap),
        so no reader ever sees renamed files under the old schema."""
        def mut(meta: dict) -> None:
            meta["schema"] = [
                [new if n == old else n, s] for n, s in meta["schema"]
            ]

        self._rewrite(lambda df: df.withColumnRenamed(old, new),
                      mutate_meta=mut)

    def truncate(
        self, position_floor: tuple[str, int] | None = None
    ) -> dict:
        """TRUNCATE TABLE, Iceberg-style: a metadata-only commit with an
        empty bucket map — old data files stay on disk for time travel
        (expire_snapshots reclaims them later). `position_floor` records
        the truncating statement's binlog position; merge() drops any
        folded change at or below it, so an at-least-once REPLAY of
        pre-truncate events cannot resurrect rows the truncate removed
        (the per-key position gate can't help here — the target rows no
        longer exist to gate against).

        CAS commit, and bumps `truncate_epoch` so a concurrent merge's
        rebase check (_rebase_ok) fails and forces its recompute against
        the now-empty table — without the epoch, a merge whose affected
        buckets were empty both before and after the truncate (and whose
        position_floor didn't move) could rebase pre-truncate rows back
        in."""
        def mut(meta: dict) -> None:
            meta["buckets"] = {}
            meta["deltas"] = {}
            meta["delta_bytes"] = {}
            meta["stats"] = {}
            meta["hot_keys"] = []
            meta["metrics"]["n_rows"] = 0
            meta["truncate_epoch"] = meta.get("truncate_epoch", 0) + 1
            if position_floor is not None:
                meta["position_floor"] = {
                    "file": position_floor[0],
                    "pos": int(position_floor[1]),
                }

        meta = self.update_metadata(mut)
        return {"version": meta["version"]}

    def compact(
        self,
        retire_tombstones_before: tuple[str, int] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        files_per_bucket: int = 4,
    ) -> dict:
        """Full compaction (Iceberg rewrite_data_files equivalent): one COW
        rewrite folding every bucket's delta files into a fresh base —
        read amplification back to 1 scan/bucket. Tombstones are
        PRESERVED by default: they carry the delete's position, which the
        MERGE gate needs to reject stale replays of pre-delete events.

        `retire_tombstones_before=(file, pos)` physically drops tombstones
        older than that position during the rewrite — pass the REPLAY
        HORIZON (a position every producer has durably committed past,
        e.g. the min over streams of their checkpointed lineage), because
        a replayed pre-delete event older than a retired tombstone would
        re-insert the dead key. With the horizon chosen that way the
        retirement is safe and keeps delete-heavy tables from accreting
        tombstones forever (the DEL-row GC that Iceberg gets from
        snapshot expiry + rewrite).

        Incremental per-bucket compaction already happens automatically
        inside merge() when a bucket crosses MAX_DELTA_FILES / delta-byte
        thresholds; this is the explicit maintenance hook for quiet
        hours."""
        before = self.metadata()
        n_deltas = sum(len(r) for r in before.get("deltas", {}).values())

        def fn(df):
            if retire_tombstones_before is None:
                return df
            f, p = retire_tombstones_before
            stale_tomb = F.coalesce(F.col(CDC_DELETED), F.lit(False)) & (
                F.struct(F.col(CDC_FILE), F.col(CDC_POS))
                < F.struct(F.lit(f).alias(CDC_FILE), F.lit(p).alias(CDC_POS))
            )
            return df.where(~stale_tomb)

        self._rewrite(fn, sort_by=sort_by, zorder_by=zorder_by,
                      files_per_bucket=files_per_bucket)
        return {
            "version": self.metadata()["version"],
            "deltas_folded": n_deltas,
        }

    def drop_column(self, name: str) -> None:
        """Metadata-only DROP COLUMN (Iceberg semantics): the column leaves
        the logical schema immediately — reads, changes() and merges no
        longer see it — while the bytes stay in existing files until each
        bucket's next COW rewrite/compaction reclaims them (the aligned
        scan simply stops selecting the column). Dropping a merge-key
        column is refused. Re-adding the same name later starts from null
        for rows not rewritten since (documented Iceberg caveat of
        name-based mapping on plain parquet). CAS commit; a merge racing
        the drop recomputes rather than rebases (_rebase_ok's schema-
        superset check), so the dropped column cannot be resurrected from
        a stale base snapshot."""
        if name in self.metadata()["keys"]:
            raise ValueError(f"cannot drop merge key column {name!r}")

        def mut(meta: dict) -> None:
            meta["schema"] = [
                [n, s] for n, s in meta["schema"] if n != name
            ]

        self.update_metadata(mut)

    def widen_column(self, name: str, new_type: str) -> None:
        """Type widen (int->long, float->double, decimal scale-up): metadata
        change; read path casts old files up. CAS commit."""
        def mut(meta: dict) -> None:
            meta["schema"] = [
                [n, new_type if n == name else s] for n, s in meta["schema"]
            ]

        self.update_metadata(mut)

    def rebucket(self, n_buckets: int) -> dict:
        """Bucket-count evolution (the Iceberg partition-evolution
        equivalent for this table's bucket transform): rewrite the table
        into a new hash-bucket layout. A layout sized for 10^8 rows chokes
        at 10^10 — per-bucket bytes grow unbounded, merges lose
        parallelism, point reads over-scan — so growing n_buckets is a
        required 100 TB maintenance op, not a convenience.

        One COW rewrite (same cost envelope as compact(); deltas fold in).
        Every snapshot's metadata records its OWN n_buckets, so pinned /
        time-travel readers and read_keys against old versions keep the
        old layout; changes() across the rebucket boundary degrades to a
        full (unpruned) diff — correct, since every bucket's file set
        changed — and returns no spurious logical changes."""
        meta = self.metadata()
        old = int(meta["n_buckets"])
        if n_buckets == old:
            return {"version": meta["version"], "n_buckets": old}
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self._rewrite(lambda df: df, new_n_buckets=n_buckets)
        return {
            "version": self.metadata()["version"],
            "n_buckets": n_buckets,
            "previous_n_buckets": old,
        }

    def _rewrite(self, fn, new_n_buckets: int | None = None,
                 mutate_meta=None, sort_by: list[str] | None = None,
                 zorder_by: list[str] | None = None,
                 files_per_bucket: int = 4) -> None:
        """Physical rewrite preserving internal CDC gate columns. Folds any
        delta files into the new base (full compaction).

        `sort_by` clusters rows WITHIN each bucket before writing (Iceberg
        rewrite_data_files with a sort strategy / z-order-lite): a
        sortWithinPartitions — no extra shuffle beyond the bucket
        repartition — that makes each output file's min/max bounds on the
        sort columns narrow and disjoint, which is what turns the
        file-level stats pruning (stats.py / read_where) from "skips
        nothing inside a bucket" into "reads 1/files_per_bucket of it".

        CAS commit against the snapshot the rewrite read: racing a
        concurrent merge, exactly one wins — the loser here cleans up its
        just-written dir and raises CommitConflict (LOUD, never a silent
        clobber of the merge's pointer swing). Maintenance is retryable by
        nature, so the caller simply re-runs against the new state."""
        base_meta = self.metadata()
        meta = copy.deepcopy(base_meta)
        version = meta["version"] + 1
        df = fn(self._read_state(meta, sorted(_live_buckets(meta))))
        data_rel = f"data/v{version}-{uuid.uuid4().hex[:8]}"
        if new_n_buckets is not None:
            meta["n_buckets"] = int(new_n_buckets)
        keys, n_buckets = meta["keys"], meta["n_buckets"]
        df = df.withColumn("_bucket", _bucket_col(keys, n_buckets))
        if sort_by and zorder_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        cluster: list = list(sort_by) if sort_by else []
        if zorder_by:
            # Morton-interleaved ranks (zorder.py): files cut from the
            # sorted order stay range-compact in EVERY zorder_by column,
            # so stats pruning works on each of them independently. One
            # bounded sampling pass for the rank boundaries, then a plain
            # sort EXPRESSION — the key is never written.
            bounds = zorder.compute_boundaries(
                df,
                zorder_by,
                row_estimate=max(meta["metrics"].get("n_rows", 0), 1),
            )
            cluster = [zorder.zorder_key(bounds)]
        if cluster:
            # maxRecordsPerFile splits each sorted bucket into several
            # files so the sort actually yields DISJOINT per-file ranges
            # (one giant file per bucket would leave nothing to prune —
            # hash-bucketing spreads every value range across every
            # bucket, so bucket-level bounds never exclude anything; ALL
            # the skipping power is per-file, within the sorted bucket).
            # Iceberg sizes by bytes (write.target-file-size-bytes); rows
            # stand in for bytes here via the table's row estimate.
            rows_est = max(meta["metrics"].get("n_rows", 0), 1)
            per_file = max(
                -(-rows_est // (n_buckets * max(files_per_bucket, 1))), 1
            )
            writer = (
                df.repartition(n_buckets, "_bucket")
                .sortWithinPartitions("_bucket", *cluster)
                .write.mode("overwrite")
                .option("maxRecordsPerFile", per_file)
            )
        else:
            writer = (
                df.repartition(n_buckets, "_bucket")
                .write.mode("overwrite")
            )
        writer.partitionBy("_bucket").parquet(
            os.path.join(self.path, data_rel)
        )
        meta["buckets"] = {
            str(b): data_rel for b in self._present_buckets(data_rel)
        }
        meta["deltas"] = {}
        meta["delta_bytes"] = {}
        meta["stats"] = {
            data_rel: file_stats.collect_rel_stats(
                self.spark, self.path, data_rel
            )
        }
        file_stats.attach_blooms(
            self.spark, self.path, data_rel, keys, meta["stats"][data_rel],
            level="base",
        )
        meta["version"] = version
        if mutate_meta is not None:
            mutate_meta(meta)
        meta["ts"] = time.time()
        try:
            self._write_metadata(meta, expected_base=base_meta["version"])
        except CommitConflict:
            shutil.rmtree(
                os.path.join(self.path, data_rel), ignore_errors=True
            )
            raise

    def _base_bytes(self, meta: dict, bucket: int) -> int:
        rel = meta["buckets"].get(str(bucket))
        if not rel:
            return 0
        return _dir_bytes(
            os.path.join(self.path, rel, f"_bucket={bucket}")
        )

    def _delta_frame(
        self,
        u: DataFrame,
        meta: dict,
        resolve: list[int],
        cast_types: bool,
    ) -> DataFrame:
        """The merge-on-read delta rows for `u`: anchored rows straight from
        the fold, the rest resolved against the current state of the
        `resolve` buckets (their own buckets; see _merge_once)."""
        keys = meta["keys"]
        logical = meta["schema"]
        has_anchor = "anchored" in u.columns
        unanchored_cond = (~F.col("anchored")) & (
            F.col("final_op") != F.lit("DELETE")
        ) if has_anchor else F.lit(True)

        parts: list[DataFrame] = []
        if has_anchor:
            parts.append(self._rows_from_fold(
                u.where(~unanchored_cond), logical, keys, cast_types
            ))
        if resolve:
            patchy = u.where(unanchored_cond) if has_anchor else u
            cur = self._read_state(meta, resolve)
            if has_anchor:
                # the patchy key set is small (unanchored rows only) —
                # shrink the state side before the resolve join
                cur = cur.join(
                    F.broadcast(patchy.select(*keys)), keys, "left_semi"
                )
            t = cur.alias("t")
            s = patchy.alias("u")
            cond = [F.col(f"t.{k}") == F.col(f"u.{k}") for k in keys]
            joined = s.join(t, cond, "left_outer")

            exists = F.col(f"t.{keys[0]}").isNotNull()
            newer = _batch_row_newer()
            deleting = F.col("u.final_op") == F.lit("DELETE")
            take = (~exists & ~deleting) | (exists & newer)

            out_cols = []
            for n, st in logical:
                typ = _parse_type(st)
                img_val = F.col("u.image").getItem(n)
                if cast_types:
                    img_val = img_val.cast(typ)
                if n in keys:
                    out_cols.append(F.col(f"u.{n}").cast(typ).alias(n))
                else:
                    tcol = (
                        F.col(f"t.{n}") if n in cur.columns else F.lit(None)
                    )
                    base = (
                        F.when(
                            ~exists
                            | F.coalesce(
                                F.col(f"t.{CDC_DELETED}"), F.lit(False)
                            ),
                            F.lit(None),
                        )
                        .otherwise(tcol)
                        .cast(typ)
                    )
                    out_cols.append(
                        F.when(deleting, F.lit(None).cast(typ))
                        .otherwise(F.coalesce(img_val, base))
                        .alias(n)
                    )
            parts.append(
                joined.where(take).select(*out_cols, *_batch_row_gate())
            )

        return _union(parts)

    # ------------------------------------------------------------ maintenance
    def lineage(self) -> dict:
        return self.metadata().get("lineage", {})

    def committed_batch(self, stream_id: str = "default") -> int:
        return self.metadata().get("committed", {}).get(stream_id, -1)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _batch_row_gate() -> list[F.Column]:
    """A batch row `u`'s position-gate columns, tombstone flag and bucket,
    as a storage row carries them."""
    return [
        F.col("u.last_file").alias(CDC_FILE),
        F.col("u.last_pos").alias(CDC_POS),
        F.col("u.last_row_idx").alias(CDC_IDX),
        (F.col("u.final_op") == F.lit("DELETE")).alias(CDC_DELETED),
        F.col("u._bucket"),
    ]


def _batch_row_newer() -> F.Column:
    """Position gate of a batch row `u` against a state row `t`: the
    update wins only if it is strictly newer than what the state row
    already reflects. Makes merge commutative across batches
    (out-of-order batch application and replayed suffixes both
    converge)."""
    t_pos = F.struct(
        F.col(f"t.{CDC_FILE}"), F.col(f"t.{CDC_POS}"), F.col(f"t.{CDC_IDX}")
    )
    u_pos = F.struct(*_batch_row_gate()[:3])
    return F.col(f"t.{CDC_FILE}").isNull() | (u_pos > t_pos)


def _live_buckets(meta: dict) -> set[int]:
    """Buckets holding a base relation or at least one delta."""
    return {int(b) for b in meta["buckets"]} | {
        int(b) for b, rels in meta.get("deltas", {}).items() if rels
    }


def _plan_sizes(meta: dict, plan: dict) -> dict:
    """Live vs planned buckets, files and bytes of a scan plan, from the
    recorded stats (relations without stats count as fully scanned)."""
    stats = meta.get("stats", {})
    live = _live_buckets(meta)
    tot_f = tot_b = scan_f = scan_b = 0
    for b in sorted(live):
        sb = str(b)
        kept = plan.get(b, {"rel_files": {}})["rel_files"]
        for rel in file_stats.bucket_rels(meta, b):
            fmap = stats.get(rel, {}).get(sb, {})
            tot_f += len(fmap)
            tot_b += sum(e["size"] for e in fmap.values())
            if rel not in kept:
                continue
            names = list(fmap) if kept[rel] is None else kept[rel]
            scan_f += len(names)
            scan_b += sum(fmap[f]["size"] for f in names)
    return {
        "buckets_live": len(live),
        "buckets_scanned": len(plan),
        "files_live": tot_f,
        "files_scanned": scan_f,
        "bytes_live": tot_b,
        "bytes_scanned": scan_b,
    }


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _latest_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Merge-on-read resolution: one row per key — the one with the max
    (_cdc_file, _cdc_pos, _cdc_idx) position (the same LWW gate MERGE
    enforces at write time). One shuffle over only the delta-carrying
    buckets' rows."""
    pos = F.struct(F.col(CDC_FILE), F.col(CDC_POS), F.col(CDC_IDX))
    cols = df.columns
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*[F.col(c) for c in cols]), pos).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols])
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _parse_type(s: str) -> T.DataType:
    mapping = {
        "string": T.StringType(),
        "int": T.IntegerType(),
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
        "binary": T.BinaryType(),
    }
    if s in mapping:
        return mapping[s]
    if s.startswith("decimal"):
        p, sc = s[s.index("(") + 1 : s.index(")")].split(",")
        return T.DecimalType(int(p), int(sc))
    raise ValueError(f"unsupported lake type: {s}")
