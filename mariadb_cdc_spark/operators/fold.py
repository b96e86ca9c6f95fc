"""Ordering + last-writer-wins fold: the set-wise heart of the engine.

The reference applies changes ONE BY ONE in log order (single reader thread,
delivery order == binlog order, shyikobinlog/BinaryLogEventProcessor.java:43-114).
Spark applies a whole batch at once, so the sequential semantics must be
folded per key: for each (repo, path), replay that key's changes in
(binlog_file, binlog_pos, row_idx) order and keep the net effect:

    INSERT m : state := m
    UPDATE m : state := state (+) m     -- (+) = per-column overwrite; with
                                        -- binlog_row_image=minimal only the
                                        -- changed columns are present
                                        -- (reference README.md:200-235)
    DELETE   : state := absent

The fold is implemented as an ASSOCIATIVE segment summary so it can run in
two phases (partial fold per position-contiguous segment, then a tiny final
fold per key). That is the skew answer: a zipfian-hot key's million changes
fold in parallel across segments instead of in one reducer task — this is the
"salting before the merge-apply shuffle" the north rule requires, done with
order-preserving (contiguous-range) salts because the fold is
order-sensitive.

Segment summary = (is_set, deleted, img):
    pure-UPDATE run        -> (false, false, merged patch)
    run ending in INSERT/.. -> (true, deleted?, image)
Combine(left, right) = right                      if right.is_set
                     = (left.is_set, false,
                        (left.deleted ? {} : left.img) (+) right.img)  else
which is associative, so any contiguous segmentation gives the same answer.

All of this is Catalyst higher-order functions (collect_list + array_sort +
aggregate) — zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import OP_DELETE, OP_INSERT, OP_UPDATE

EMPTY_MAP = "cast(map() as map<string,string>)"


def _merge_maps(base: Column, patch: Column) -> Column:
    """Last-win map merge that is safe under the DEFAULT
    spark.sql.mapKeyDedupPolicy=EXCEPTION: keys of `patch` are removed from
    `base` before concatenation, so map_concat never sees a duplicate key.

    This keeps the engine runnable on a stock SparkSession (no session-level
    conf dependency) while preserving the reference's per-column-overwrite
    apply semantics (shyikobinlog/BinaryLogEventProcessor.java:81-101).
    """
    return F.map_concat(
        F.map_filter(base, lambda k, _v: ~F.map_contains_key(patch, k)),
        patch,
    )


def extract_keys(changes: DataFrame, keys: list[str]) -> DataFrame:
    """Lift merge-key values out of the row images into top-level columns.

    INSERT/UPDATE carry keys in `after` (full image) or `before` (minimal
    image keeps PK in the before-image); DELETE in `before`.
    """
    out = changes
    for k in keys:
        out = out.withColumn(
            k, F.coalesce(F.col("after").getItem(k), F.col("before").getItem(k))
        )
    return out


def _state(is_set: Column, deleted: Column, img: Column) -> Column:
    return F.struct(
        is_set.alias("is_set"), deleted.alias("deleted"), img.alias("img")
    )


def _apply_event(acc: Column, x: Column) -> Column:
    """state x change -> state (the reference's per-event apply, set-wise)."""
    after = F.coalesce(x["after"], F.expr(EMPTY_MAP))
    return (
        F.when(
            x["op"] == OP_INSERT,
            _state(F.lit(True), F.lit(False), after),
        )
        .when(
            x["op"] == OP_DELETE,
            _state(F.lit(True), F.lit(True), F.expr(EMPTY_MAP)),
        )
        .otherwise(  # UPDATE: patch; a patch on a deleted row re-creates it
            _state(
                acc["is_set"],
                F.lit(False),
                _merge_maps(
                    F.when(acc["deleted"], F.expr(EMPTY_MAP)).otherwise(acc["img"]),
                    after,
                ),
            )
        )
    )


def _combine(acc: Column, seg: Column) -> Column:
    """Associative combine of two adjacent segment summaries."""
    return F.when(seg["is_set"], seg).otherwise(
        _state(
            acc["is_set"],
            F.lit(False),
            _merge_maps(
                F.when(acc["deleted"], F.expr(EMPTY_MAP)).otherwise(acc["img"]),
                seg["img"],
            ),
        )
    )


_ZERO = (
    "named_struct('is_set', false, 'deleted', false,"
    " 'img', cast(map() as map<string,string>))"
)


def _cmp_by(keyfn):
    """array_sort comparator over non-orderable structs (maps inside):
    compare only the orderable position key."""

    def cmp(a, b):
        ka, kb = keyfn(a), keyfn(b)
        return F.when(ka < kb, F.lit(-1)).when(ka > kb, F.lit(1)).otherwise(F.lit(0))

    return cmp


_EV_CMP = _cmp_by(
    lambda x: F.struct(x["binlog_file"], x["binlog_pos"], x["row_idx"])
)
_SEG_CMP = _cmp_by(lambda x: x["_seg"])


def fold_changes(
    changes: DataFrame,
    keys: list[str],
    *,
    two_phase: bool | str = "auto",
    hot_keys: list | None = None,
    segment_pos_bits: int = 20,
) -> DataFrame:
    """Fold ordered changes to one net row per key.

    Returns: keys..., final_op ('UPSERT'|'DELETE'), image map, last_file,
    last_pos, last_row_idx, n_changes.

    Skew strategy (the north rule's "salting before the merge-apply
    shuffle"):
      - two_phase=True: every key folds per position-contiguous segment
        first, then combines — safe for arbitrary skew, but pays a second
        shuffle of folded summaries (~2x agg cost, measured).
      - two_phase=False: one groupBy — cheapest, but a zipfian-hot key's
        millions of changes land in ONE reducer's collect_list.
      - two_phase="auto" (default): single-phase for the key mass, two-phase
        ONLY for `hot_keys` (split via broadcast semi/anti join — map-side,
        no extra shuffle). The hot set is learned: LakeTable.merge records
        keys whose per-batch n_changes exceeded its hot threshold, and
        pipeline.apply_batch feeds them back on the next batch. Steady-state
        skewed streams get per-key salting exactly where it pays; uniform
        streams never pay for it. All three paths give identical results
        (property-tested).
    """
    if two_phase == "auto":
        if not hot_keys:
            return _reset_patch_fold(changes, keys)
        spark = changes.sparkSession
        hot_df = F.broadcast(
            spark.createDataFrame(
                [tuple(k) for k in hot_keys], changes.select(*keys).schema
            )
        )
        cold = changes.join(hot_df, keys, "left_anti")
        hot = changes.join(hot_df, keys, "left_semi")
        return _reset_patch_fold(cold, keys).unionByName(
            _fold_impl(hot, keys, True, segment_pos_bits)
        )
    return _fold_impl(changes, keys, bool(two_phase), segment_pos_bits)


DEFAULT_ORDER = ("binlog_file", "binlog_pos", "row_idx")


def fold_multi_master(changes: DataFrame, keys: list[str]) -> DataFrame:
    """Cross-server (active-active / multi-master) LWW fold.

    The reference is strictly single-master: one reader thread, one binlog,
    total order = (file, pos). With two+ masters accepting writes for the
    SAME keys (Galera-style active-active), per-server binlog positions are
    incomparable across servers, so the engine applies the standard
    wall-clock last-writer-wins policy: order events by
    (ts, server_id, binlog_file, binlog_pos, row_idx) — event time first,
    server id as the deterministic tiebreak for same-microsecond writes,
    then the per-server position (which preserves each server's own order
    whenever timestamps tie within it). Same replay-idempotence and
    skew behavior as the single-master fold: the reset/patch fold's
    commutative aggregates are correct under ANY total order, so hot keys
    still collapse map-side.

    Caveat (documented, inherent to wall-clock LWW): events from a server
    with a skewed clock win/lose by that skew — the policy trades causal
    precision for determinism exactly like DynamoDB/Cassandra LWW.
    """
    return _reset_patch_fold(
        changes, keys, order_cols=("ts", "server_id") + DEFAULT_ORDER
    )


def _reset_patch_fold(
    changes: DataFrame,
    keys: list[str],
    order_cols: tuple[str, ...] = DEFAULT_ORDER,
) -> DataFrame:
    """Single-groupBy fold built from COMMUTATIVE aggregates plus a tiny
    ordered patch tail — the scale-default fold.

    Observation: the per-key fold result only depends on the last RESET
    event (INSERT, DELETE, or an UPDATE whose after-image covers every table
    column — with binlog_row_image=full, ALL updates) plus the partial
    UPDATEs after it, applied in order. So:

        last_op   = max_by(op, pos)            -- commutative
        reset     = max_by(event, pos) over complete events   -- commutative
        patches   = collect_list(partial UPDATEs only)
        image     = base(reset) ⊕ sort(patches where pos > reset_pos)

    max/max_by/count partial-aggregate map-side, so the shuffle carries one
    summary per (key, map partition) instead of every change — at
    binlog_row_image=full (the MariaDB default and the reference's main test
    config, src/test/resources/conf.d.103/test.cnf) the patch list is EMPTY
    and a hot key's million changes collapse map-side with no salting at
    all. Partial-image workloads only ship their partial updates.

    Completeness detection uses the registry's column count when present
    (column_types/column_names from the TABLE_MAP join); without those
    columns every UPDATE is conservatively a patch — slower, never wrong.

    order_cols: the total order the fold replays (commutative aggregates —
    max/max_by plus an ordered patch tail — are correct under ANY total
    order, so callers may prepend e.g. (ts, server_id) for the
    multi-master policy). Must end with the canonical position triple:
    the output's last_file/last_pos/last_row_idx read those fields.
    """
    pos = F.struct(*[F.col(c) for c in order_cols])
    after = F.coalesce(F.col("after"), F.expr(EMPTY_MAP))
    n_cols = F.lit(None).cast("int")
    if "column_types" in changes.columns:
        n_cols = F.coalesce(n_cols, F.size("column_types"))
    if "column_names" in changes.columns:
        n_cols = F.coalesce(n_cols, F.size("column_names"))
    complete = (F.col("op") != OP_UPDATE) | (
        n_cols.isNotNull() & (F.size(after) >= n_cols)
    )

    agg = changes.groupBy(*keys).agg(
        F.max_by(F.col("op"), pos).alias("_last_op"),
        F.max(pos).alias("_last"),
        F.count(F.lit(1)).alias("n_changes"),
        F.max(F.when(complete, pos)).alias("_reset_pos"),
        F.max_by(
            F.when(complete, F.struct(F.col("op").alias("op"), after.alias("img"))),
            F.when(complete, pos),
        ).alias("_reset"),
        F.collect_list(
            F.when(~complete, F.struct(pos.alias("pos"), after.alias("img")))
        ).alias("_patches"),
    )

    base = F.when(
        F.col("_reset").isNull() | (F.col("_reset.op") == F.lit(OP_DELETE)),
        F.expr(EMPTY_MAP),
    ).otherwise(F.col("_reset.img"))
    live_patches = F.array_sort(
        F.filter(
            F.col("_patches"),
            lambda p: F.col("_reset_pos").isNull() | (p["pos"] > F.col("_reset_pos")),
        ),
        _cmp_by(lambda x: x["pos"]),
    )
    image = F.aggregate(
        live_patches, base, lambda acc, p: _merge_maps(acc, p["img"])
    )

    return agg.select(
        *keys,
        F.when(F.col("_last_op") == OP_DELETE, F.lit("DELETE"))
        .otherwise(F.lit("UPSERT"))
        .alias("final_op"),
        image.alias("image"),
        F.col("_last.binlog_file").alias("last_file"),
        F.col("_last.binlog_pos").alias("last_pos"),
        F.col("_last.row_idx").alias("last_row_idx"),
        "n_changes",
        # A reset (INSERT / complete UPDATE / DELETE) anchors this key's
        # net image: the image is definitive on its own (absent = NULL),
        # independent of prior table state. Patch-only histories are NOT
        # anchored — their image only overrides the columns it carries.
        # LakeTable.merge's delta buckets append anchored rows without
        # reading table state (the Hudi-MOR insert path); only unanchored
        # rows need the resolve join.
        F.col("_reset_pos").isNotNull().alias("anchored"),
    )


def _fold_impl(
    changes: DataFrame,
    keys: list[str],
    two_phase: bool,
    segment_pos_bits: int,
) -> DataFrame:
    ev = F.struct(
        F.col("binlog_file"),
        F.col("binlog_pos"),
        F.col("row_idx"),
        F.col("op"),
        F.col("after"),
    )
    last = F.max(
        F.struct(F.col("binlog_file"), F.col("binlog_pos"), F.col("row_idx"))
    ).alias("_last")

    if not two_phase:
        folded = (
            changes.groupBy(*keys)
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(ev), _EV_CMP),
                    F.expr(_ZERO),
                    _apply_event,
                ).alias("state"),
                last,
                F.count(F.lit(1)).alias("n_changes"),
            )
        )
    else:
        seg = F.struct(
            F.col("binlog_file").alias("seg_file"),
            F.shiftright(F.col("binlog_pos"), segment_pos_bits).alias("seg_pos"),
        )
        partial = (
            changes.withColumn("_seg", seg)
            .groupBy(*keys, "_seg")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(ev), _EV_CMP),
                    F.expr(_ZERO),
                    _apply_event,
                ).alias("seg_state"),
                last,
                F.count(F.lit(1)).alias("n_changes"),
            )
        )
        folded = (
            partial.groupBy(*keys)
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_seg"), F.col("seg_state"))),
                        _SEG_CMP,
                    ),
                    F.expr(_ZERO),
                    lambda acc, x: _combine(acc, x["seg_state"]),
                ).alias("state"),
                F.max("_last").alias("_last"),
                F.sum("n_changes").alias("n_changes"),
            )
        )

    return folded.select(
        *keys,
        F.when(F.col("state.deleted"), F.lit("DELETE"))
        .otherwise(F.lit("UPSERT"))
        .alias("final_op"),
        F.col("state.img").alias("image"),
        F.col("_last.binlog_file").alias("last_file"),
        F.col("_last.binlog_pos").alias("last_pos"),
        F.col("_last.row_idx").alias("last_row_idx"),
        "n_changes",
        # conservative vs _reset_patch_fold: the segment state machine only
        # sets is_set on INSERT/DELETE (a complete UPDATE stays a patch) —
        # unanchored rows just take the resolve join, never wrong.
        F.col("state.is_set").alias("anchored"),
    )
