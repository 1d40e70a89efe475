"""Last-writer-wins change application (the engine's core operator).

Semantics (north rule W1): for each key ``(conv_id, turn_idx)`` the event
with the maximum ``(ts, lsn)`` wins; a winning delete removes the row,
otherwise the winner's after-image is the row. Late/out-of-order events
apply-or-no-op deterministically because the comparison is against the
stored row's ``(ts, _lsn)``.

Reference parity: this replaces the reference's per-row UPDATE loop and
in-memory key-set UPSERT
(reference:src/etl_framework/plugins/loaders/sql_loader.py:286-324,431-474;
file variant reference:src/etl_framework/plugins/loaders/file_loader.py:199-260)
with one set-based plan, ``resolve_lww_bucketed``: a single shuffle
aligned with the table's buckets and a key-run window. The plan's skew
handling follows what ``detect_skew`` measures in each batch, never a
caller knob:

- a hot CONVERSATION widens the within-bucket key salt of its own keys;
- a hot FULL KEY is collapsed first by ``lww_dedupe``'s **two-stage
  salted aggregation**: stage 1 aggregates on (keys, salt), stage 2 on
  keys, so no single task owns the whole key (the window variant cannot
  give that guarantee). Benchmarked in BENCH/.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.lakehouse.table import (
    LakeTable,
    bucket_expr,
    commit_with_retry,
)
from etl_framework_spark.schemas import KEY_COLUMNS, ORDER_COLUMNS

_W = "_lww"


def _winner_struct(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]):
    """struct(order_cols..., rest...) — lexicographic max = LWW winner.
    Payload columns after the order columns make ties (byte-identical
    duplicate deliveries) deterministic regardless of partitioning."""
    rest = [c for c in df.columns if c not in keys and c not in order_cols]
    return F.struct(*[F.col(c) for c in (*order_cols, *rest)])


def lww_dedupe(
    df: DataFrame,
    keys: Sequence[str] = KEY_COLUMNS,
    order_cols: Sequence[str] = ORDER_COLUMNS,
    salt_partitions: int = 0,
) -> DataFrame:
    """One winning row per key.

    Default path is the ``row_number`` window (W1 as literally stated in
    SURVEY.md): measured fastest AND thread-scalable. The aggregate
    formulation (``groupBy.max(struct)``) looks better on paper
    (map-side partial combine) but ``max(struct-with-strings)`` has no
    mutable hash-agg buffer, so Catalyst plans **SortAggregate** — a
    struct-comparator sort on BOTH the partial and final stages, which
    benchmarked 2-3x slower than the window's one column-comparator
    sort (8.7 s vs 3.3 s on a 4M-event log at local[8]).

    ``salt_partitions`` > 0 switches to the two-stage salted aggregation:
    a hot key's events split across ``salt_partitions`` sub-groups in
    stage 1, so no single task sorts a whole hot conversation — the
    skew guarantee the window variant cannot give (its partitionBy puts
    every event of a key in one task).
    """
    if salt_partitions > 0:
        winner = _winner_struct(df, keys, order_cols)
        out_cols = [*keys] + [
            F.col(f"{_W}.{c}").alias(c) for c in df.columns if c not in keys
        ]
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_partitions))
        stage1 = (
            df.withColumn("_salt", salt)
            .groupBy(*keys, "_salt")
            .agg(F.max(winner).alias(_W))
        )
        # stage 2: tiny (<= salt_partitions rows per key), salt stripped so
        # downstream MERGE sees unique keys.
        return (
            stage1.groupBy(*keys)
            .agg(F.max(F.col(_W)).alias(_W))
            .select(*out_cols)
        )
    rest = [c for c in df.columns if c not in keys and c not in order_cols]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols], *[F.col(c).desc_nulls_last() for c in rest]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _union_as_events(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, list[str]]:
    """Union stored rows (as pseudo-events) with incoming change events,
    upcasting the source to the table's types. Returns (events, payload
    columns)."""
    payload_cols = [
        c for c in target.columns if c not in (*keys, "ts", "_lsn", "_deleted")
    ]
    as_events = target.select(
        F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_lsn").alias("lsn"),
        "ts",
        *keys,
        *payload_cols,
    )
    # After-image semantics: a winning event that lacks a (newly evolved)
    # payload column sets it NULL; key/ts types upcast to the table's.
    have = set(source.columns)
    tgt_types = dict(zip(target.columns, [f.dataType for f in target.schema.fields]))
    src = source.select(
        "op",
        F.col("lsn").cast("long").alias("lsn"),
        F.col("ts").cast(tgt_types["ts"]).alias("ts"),
        *[F.col(k).cast(tgt_types[k]).alias(k) for k in keys],
        *[
            (F.col(c).cast(tgt_types[c]) if c in have else F.lit(None).cast(tgt_types[c])).alias(c)
            for c in payload_cols
        ],
    )
    return as_events.unionByName(src), payload_cols


def resolve_lww_bucketed(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    key_col: str,
    n_buckets: int,
    partitions: int | None = None,
    hot_first_keys: Sequence | None = None,
    hot_key_salt: int | None = None,
) -> DataFrame:
    """Single-shuffle merge resolver, aligned with the table's bucket
    layout (the scale path used by ``apply_changes``):

        repartition(hash(_bucket))           <- the ONLY shuffle
        window over _bucket ORDER BY (keys ASC, order DESC)
        winner = first row of each key run (lag-based)

    vs the naive plan's three shuffles (dedupe-by-key, resolve-by-key,
    repartition-by-bucket). Output keeps ``_bucket`` and arrives sorted
    by key, so the writer needs no further exchange or sort. Measured
    ~2x end-to-end on a 16M-event apply.
    """
    combined, payload_cols = _union_as_events(target, source, keys)
    # _ksalt spreads a HOT BUCKET over several tasks while keeping
    # every key's events in one task (salt is a pure function of the
    # key): a Zipf-hot conversation otherwise serializes its whole
    # bucket's sort into a single straggler (north-rule skew case).
    # Callers that measured the skew (``detect_skew``) pass
    # ``hot_first_keys`` (the hot conversations) + ``hot_key_salt``: ONLY
    # those conversations' keys get the wide salt, so cold buckets keep
    # the default low salt (low salt = few files per bucket; a global
    # wide salt would fragment EVERY bucket's output ~10x).
    salt_mod = F.lit(max(4, (partitions or n_buckets * 4) // n_buckets))
    if hot_first_keys is not None and len(hot_first_keys) and hot_key_salt:
        salt_mod = F.when(
            F.col(key_col).isin(list(hot_first_keys)), F.lit(int(hot_key_salt))
        ).otherwise(salt_mod)
    keyed = combined.withColumn("_bucket", bucket_expr(key_col, n_buckets)).withColumn(
        "_ksalt",
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]), salt_mod).cast("int"),
    )
    keyed = keyed.repartition(partitions or n_buckets * 4, "_bucket", "_ksalt")
    # Payload columns stay out of the sort: a (ts, lsn) tie means a
    # byte-identical re-delivery (binlog contract), so the winner's
    # content is the same either way — and sorting multi-KB text as a
    # tiebreak measurably dominates the sort.
    w = Window.partitionBy("_bucket", "_ksalt").orderBy(
        *[F.col(k).asc() for k in keys],
        *[F.col(c).desc() for c in ORDER_COLUMNS],
    )
    # first row of each key run; eqNullSafe makes the partition head
    # (lag = NULL) and NULL-key comparisons well-defined
    diffs = [~F.col(k).eqNullSafe(F.lag(k).over(w)) for k in keys]
    is_first = diffs[0]
    for d in diffs[1:]:
        is_first = is_first | d
    winners = keyed.withColumn("_first", is_first).where("_first").drop("_first")
    return winners.select(
        *keys,
        *[F.when(F.col("op") != "D", F.col(c)).alias(c) for c in payload_cols],
        "ts",
        F.col("lsn").alias("_lsn"),
        (F.col("op") == "D").alias("_deleted"),
        "_bucket",
    )  # _ksalt dropped; files per bucket = #salt groups that saw rows


def detect_skew(
    changes: DataFrame,
    keys: Sequence[str],
    partitions: int,
    sample_fraction: float = 0.005,
    threshold: float = 4.0,
    max_keys: int = 1000,
    seed: int = 42,
    base_key_salt: int = 4,
    min_sample_rows: int = 20,
) -> dict:
    """Observed-histogram skew probe (north rule: salted repartitioning
    for hot-conversation skew, driven by the DATA, not a caller knob).

    One Bernoulli sample (no shuffle over the batch; the tiny sample is
    aggregated twice, collapsed into ONE job) yields three estimates,
    each in units of the average per-task row count
    (``total / partitions``):

    - ``mx``: the hottest FULL key's rows. Above ``threshold`` tasks'
      worth, the bucketed window resolver cannot split it (a key's
      events must share a task for the sort) — those keys get the
      salted two-stage PRE-AGGREGATION.
    - ``mc``: the hottest ``keys[0]`` (conversation = bucket key) rows.
      The table buckets on ``keys[0]``, so a Zipf-hot conversation
      funnels into one bucket; it IS splittable across tasks by the
      within-bucket key salt — ``key_salt`` below sizes that salt from
      the observed ratio instead of the static ``partitions/n_buckets``
      default.

    Returns ``{"hot_keys": [Row...], "hot_convs": [value...],
    "salt": int, "key_salt": int | None}``; the hot lists are bounded by
    ``max_keys`` and collected (re-running the small sample scan) ONLY
    when the corresponding flag fired — the no-skew common case costs
    exactly one job and one 3-number collect.
    """
    import math

    kcounts = (
        changes.sample(fraction=sample_fraction, seed=seed)
        .groupBy(*keys)
        .agg(F.count("*").alias("_c"))
    )
    by_conv = kcounts.groupBy(keys[0]).agg(
        F.sum("_c").alias("_cc"), F.max("_c").alias("_mk")
    )
    stats = by_conv.agg(
        F.sum("_cc").alias("tot"),
        F.max("_mk").alias("mx"),
        F.max("_cc").alias("mc"),
    ).collect()[0]
    tot = stats["tot"] or 0
    out: dict = {"hot_keys": [], "hot_convs": [], "salt": 0, "key_salt": None}
    if not tot:
        return out
    per_task = tot / max(partitions, 1)
    # ``min_sample_rows`` floors both flags: on a small sample a handful
    # of coincident rows would otherwise read as a hot key (at 150
    # sampled rows the per-key cutoff can be ~5 rows — noise). A truly
    # hot key in a batch big enough for skew to matter clears the floor
    # by orders of magnitude.
    if (stats["mc"] or 0) > max(threshold * per_task * base_key_salt, min_sample_rows):
        # Hot conversations: salt THEIR keys wide so each one's bucket
        # sort spreads over many tasks. Gated on the RESIDUAL skew: the
        # resolver already splits every bucket ``base_key_salt`` ways,
        # so a conversation only needs the wide salt when its largest
        # post-base-salt group still exceeds ``threshold`` tasks' worth
        # — below that, salting costs more (extra files + per-row salt
        # branch) than the straggler it removes (A/B measured on the
        # 2M bench log: auto-salting a 10%-conv log lost ~15%).
        # 4x headroom over the measured ratio: a conversation's (few)
        # distinct turn keys land in salt groups by hash, so without
        # headroom balls-into-bins collisions leave 2-5x heavy groups
        # (measured on the 16M skew bench).
        out["key_salt"] = min(
            256, max(2 * base_key_salt, 4 * math.ceil((stats["mc"] or 0) / per_task))
        )
        out["hot_convs"] = [
            r[keys[0]]
            for r in by_conv.where(F.col("_cc") > threshold * per_task)
            .orderBy(F.desc("_cc"))
            .limit(max_keys)
            .collect()
        ]
    if (stats["mx"] or 0) > max(threshold * per_task, min_sample_rows):
        cutoff = max(threshold * per_task, min_sample_rows)
        out["hot_keys"] = (
            kcounts.where(F.col("_c") > cutoff)
            .orderBy(F.desc("_c"))
            .limit(max_keys)
            .collect()
        )
        out["salt"] = min(256, max(4, math.ceil((stats["mx"] or 0) / per_task)))
    return out


def compute_lineage(
    changes: DataFrame, key_col: str, n_buckets: int, key_type=None
) -> list[dict]:
    """Per-bucket lineage rows: row counts + applied LSN ranges (north
    rule; reference analog
    reference:src/etl_framework/security/audit_logger.py:100-146).
    Small result (<= n_buckets rows) — safe to collect.

    ``key_type``: the table's key dtype; the source key is cast before
    hashing so lineage bucket ids match the table's layout even for a
    narrower-typed batch (xxhash64 is type-sensitive)."""
    kcol = F.col(key_col).cast(key_type) if key_type is not None else F.col(key_col)
    rows = (
        changes.groupBy(bucket_expr(kcol, n_buckets).alias("bucket"))
        .agg(
            F.count("*").alias("rows"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        )
        .collect()
    )
    return [r.asDict() for r in sorted(rows, key=lambda r: r["bucket"])]


def apply_changes(
    table: LakeTable,
    changes: DataFrame,
    stream_id: str = "default",
    epoch_id: int | None = None,
    source_offsets: dict | None = None,
) -> int | None:
    """Apply one micro-batch of change events to the table.

    Exactly-once: if ``epoch_id`` was already committed for ``stream_id``
    the batch is a no-op (returns None). The epoch marker rides in the
    same atomic snapshot commit as the data, so a crash between write and
    commit re-applies cleanly and a crash after commit skips cleanly.

    Skew: a sampled key histogram (``detect_skew``) finds keys hot
    enough to serialize a resolver task. Hot full keys alone are routed
    through the salted two-stage pre-aggregation (split by a broadcast
    semi/anti join — no shuffle) and their collapsed winners rejoin the
    cold events in the single-shuffle bucketed resolver; hot
    conversations get a wider key salt inside that resolver. The cold
    99%+ keeps the fast plan; no hot keys -> pure fast path.
    """
    if epoch_id is not None and epoch_id <= table.last_epoch(stream_id):
        return None

    keys = table.key_columns
    n_part = int(
        changes.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    partitions = max(n_part, table.n_buckets)
    skew = detect_skew(
        changes,
        keys,
        partitions,
        base_key_salt=max(4, partitions // max(table.n_buckets, 1)),
    )
    hot_convs = skew["hot_convs"]
    hot_key_salt = skew["key_salt"]
    auto_salt = skew["salt"] or (hot_key_salt or 0)
    n_hot = len(skew["hot_keys"])
    if n_hot:
        # Hot FULL keys (one (conv, turn) updated ~a task's worth of
        # times): un-splittable by the window, so collapse ONLY them
        # in a partial-agg-friendly salted two-stage aggregation
        # (split off by a broadcast semi/anti join — no shuffle) and
        # let the winners ride the fast resolver with the cold 99%.
        spark = changes.sparkSession
        hot_df = spark.createDataFrame(
            [tuple(r[k] for k in keys) for r in skew["hot_keys"]],
            changes.select(*keys).schema,
        )
        hot_events = changes.join(F.broadcast(hot_df), on=list(keys), how="left_semi")
        cold_events = changes.join(F.broadcast(hot_df), on=list(keys), how="left_anti")
        hot_winners = lww_dedupe(hot_events, keys=keys, salt_partitions=skew["salt"])
        deduped = cold_events.unionByName(hot_winners.select(*cold_events.columns))
    else:
        # Hot CONVERSATION only (many turns): handled inside the
        # bucketed resolver by the widened key_salt set above.
        deduped = changes

    def resolver(tgt, src):
        return resolve_lww_bucketed(
            tgt,
            src,
            keys=keys,
            key_col=keys[0],
            n_buckets=table.n_buckets,
            partitions=partitions,
            hot_first_keys=hot_convs,
            hot_key_salt=hot_key_salt,
        )

    summary: dict = {"stream_id": stream_id}
    if source_offsets:
        summary["source_offsets"] = source_offsets
    # Run the lineage aggregation CONCURRENTLY with the merge's own
    # jobs (independent reads of the same immutable batch; Spark
    # schedules jobs from separate threads in parallel). Its result
    # is only needed at commit time, so nothing blocks on it here.
    # Daemon thread: if the merge raises before commit, the orphaned
    # (small) lineage job can't keep the process alive.
    import threading

    key = table.key_columns[0]
    key_type = table.schema[key].dataType if key in {
        f.name for f in table.schema.fields
    } else None
    _res: dict = {}
    _done = threading.Event()

    def _lineage_job():
        try:
            _res["v"] = compute_lineage(
                changes, key, table.n_buckets, key_type=key_type
            )
        except Exception as e:  # surfaced at commit time
            _res["e"] = e
        finally:
            _done.set()

    threading.Thread(target=_lineage_job, daemon=True).start()

    def _lineage_result():
        _done.wait()
        if "e" in _res:
            raise _res["e"]
        return _res["v"]

    # zero-arg callable: _commit resolves it right before the
    # snapshot is written, after the merge's heavy jobs finished
    summary["lineage"] = _lineage_result
    # Per-commit metrics ride in the snapshot summary next to lineage
    # (north rule: per-partition lineage + metrics). The wall clock is
    # resolved lazily at commit time so it covers the whole apply.
    import time as _time

    _t0 = _time.perf_counter()
    summary["metrics"] = lambda: {
        "apply_seconds": round(_time.perf_counter() - _t0, 3),
        "salt_partitions": auto_salt,
        "hot_keys_detected": n_hot,
        "hot_conversations": len(hot_convs),
    }

    # Stored-shape schema implied by this batch: payload + ts + _lsn + _deleted.
    envelope = {"op", "lsn"}
    stored_fields = [f for f in changes.schema.fields if f.name not in envelope]
    stored_schema = T.StructType(
        stored_fields
        + [
            T.StructField("_lsn", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    def _merge_once(t: LakeTable) -> int | None:
        # Re-checked per attempt: a concurrent applier of the SAME
        # stream may have committed this epoch between our conflicts.
        if epoch_id is not None and epoch_id <= t.last_epoch(stream_id):
            return None
        return t.merge(
            deduped,
            resolve=resolver,
            evolve_schema=stored_schema,
            summary=summary,
            epoch=(stream_id, epoch_id) if epoch_id is not None else None,
        )

    # merge() raises CommitConflict if a concurrent writer touched an
    # overlapping bucket between read and commit (e.g. a compaction or
    # another stream's apply); the bounded optimistic loop re-reads and
    # re-resolves against the fresh snapshot. 8 attempts: two streams
    # ingesting the same hot table can alternate losses for a few
    # rounds on a loaded box before the jittered backoff de-syncs them.
    return commit_with_retry(table, _merge_once, max_retries=8)
