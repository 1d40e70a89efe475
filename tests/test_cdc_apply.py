"""End-to-end CDC apply vs the sequential replay oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply_changes, lww_dedupe
from etl_framework_spark.datagen import gen_changes
from etl_framework_spark.lakehouse import LakeTable
from etl_framework_spark.schemas import KEY_COLUMNS, TRANSCRIPT_SCHEMA

from tests.oracle import replay

STORED_SCHEMA = T.StructType(
    TRANSCRIPT_SCHEMA.fields
    + [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)


def make_table(spark, tmp_path, n_buckets=8, merge_policy=None) -> LakeTable:
    return LakeTable.create(
        spark,
        str(tmp_path / "transcripts"),
        STORED_SCHEMA,
        key_columns=KEY_COLUMNS,
        n_buckets=n_buckets,
        merge_policy=merge_policy,
    )


def assert_state_equals_oracle(table: LakeTable, all_changes_pdf: pd.DataFrame):
    expect = replay(all_changes_pdf)
    got = (
        table.current()
        .drop("_deleted")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(got) == len(expect), f"row count {len(got)} != oracle {len(expect)}"
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "_lsn"]:
        pd.testing.assert_series_equal(
            got[col],
            expect[col].astype(got[col].dtype),
            check_names=False,
            obj=f"column {col}",
        )
    # per-turn text equality under stable (conv_id, turn_idx) ordering is
    # the BASELINE invariant — asserted above via the text column.


def test_lww_dedupe_salted_equals_plain(spark):
    changes = gen_changes(spark, 5000, n_convs=20, hot_frac=0.8, n_hot=1, seed=9)
    plain = lww_dedupe(changes).orderBy("conv_id", "turn_idx").toPandas()
    salted = (
        lww_dedupe(changes, salt_partitions=16).orderBy("conv_id", "turn_idx").toPandas()
    )
    pd.testing.assert_frame_equal(
        plain[sorted(plain.columns)].reset_index(drop=True),
        salted[sorted(salted.columns)].reset_index(drop=True),
    )


def test_apply_single_batch_matches_oracle(spark, tmp_path):
    table = make_table(spark, tmp_path)
    changes = gen_changes(spark, 10_000, n_convs=100, seed=42)
    apply_changes(table, changes)
    assert_state_equals_oracle(table, changes.toPandas())


def test_apply_multi_batch_matches_oracle(spark, tmp_path):
    table = make_table(spark, tmp_path)
    all_pdf = []
    per = 4000
    for b in range(3):
        batch = gen_changes(spark, per, n_convs=80, seed=100 + b, lsn_start=1 + b * per)
        apply_changes(table, batch, epoch_id=b)
        all_pdf.append(batch.toPandas())
    assert_state_equals_oracle(table, pd.concat(all_pdf, ignore_index=True))


def test_epoch_idempotence(spark, tmp_path):
    """Re-delivering an already-committed epoch must be a no-op."""
    table = make_table(spark, tmp_path)
    batch = gen_changes(spark, 2000, n_convs=30, seed=5)
    v1 = apply_changes(table, batch, stream_id="s1", epoch_id=0)
    assert v1 is not None
    v2 = apply_changes(table, batch, stream_id="s1", epoch_id=0)
    assert v2 is None
    assert table.version == v1
    assert_state_equals_oracle(table, batch.toPandas())


def test_duplicate_deliveries_are_idempotent(spark, tmp_path):
    """dup_rate re-deliveries inside a batch collapse to one row per key."""
    table = make_table(spark, tmp_path)
    batch = gen_changes(spark, 3000, n_convs=40, seed=11, dup_rate=0.2)
    apply_changes(table, batch)
    got = table.current().groupBy(*KEY_COLUMNS).count().where(F.col("count") > 1).count()
    assert got == 0
    assert_state_equals_oracle(table, batch.toPandas())


def test_late_events_noop(spark, tmp_path):
    """An event older than the stored row must not overwrite it."""
    table = make_table(spark, tmp_path)
    b1 = gen_changes(spark, 3000, n_convs=30, seed=21, lsn_start=1)
    apply_changes(table, b1)
    before = table.current().orderBy("conv_id", "turn_idx").toPandas()

    # Craft a batch strictly older than everything stored: shift ts far into
    # the past and reuse low LSNs.
    late = (
        b1.withColumn("ts", F.col("ts") - F.expr("INTERVAL 365 DAYS"))
        .withColumn("text", F.lit("SHOULD NOT WIN"))
        .withColumn("op", F.lit("U"))
    )
    apply_changes(table, late)
    after = table.current().orderBy("conv_id", "turn_idx").toPandas()
    assert not (after["text"] == "SHOULD NOT WIN").any()
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )


def test_delete_removes_row(spark, tmp_path):
    table = make_table(spark, tmp_path)
    pdf = pd.DataFrame(
        {
            "op": ["I", "I", "D"],
            "lsn": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2026-01-01 00:00:00", "2026-01-01 00:00:01", "2026-01-01 00:00:02"],
                format="%Y-%m-%d %H:%M:%S",
            ),
            "conv_id": ["c1", "c2", "c1"],
            "turn_idx": [0, 0, 0],
            "role": ["user", "user", None],
            "text": ["hello", "world", None],
            "tool": [None, None, None],
        }
    )
    from etl_framework_spark.schemas import CHANGE_SCHEMA

    apply_changes(table, spark.createDataFrame(pdf, schema=CHANGE_SCHEMA))
    rows = table.current().select("conv_id", "text").collect()
    assert {(r.conv_id, r.text) for r in rows} == {("c2", "world")}


@pytest.mark.parametrize("merge_policy", [None, "lww"])
def test_skewed_log_matches_oracle(spark, tmp_path, merge_policy):
    """80% of events on one hot conversation; the skew-probed apply
    (sampled hot-key detection + targeted salting) agrees with the
    oracle on a copy-on-write and a merge-on-read table."""
    table = make_table(spark, tmp_path, merge_policy=merge_policy)
    changes = gen_changes(spark, 8000, n_convs=50, hot_frac=0.8, n_hot=1, seed=33)
    apply_changes(table, changes)
    assert_state_equals_oracle(table, changes.toPandas())


def test_detect_skew_hot_conversation_vs_hot_key(spark):
    """The sampled histogram distinguishes the two skew shapes: a hot
    CONVERSATION (many turns, splittable by key salt) widens key_salt;
    a hot FULL KEY (one turn re-updated, un-splittable by the window)
    lands in hot_keys; a uniform log triggers neither."""
    from etl_framework_spark.cdc.apply import detect_skew

    skewed = gen_changes(spark, 40_000, n_convs=200, hot_frac=0.5, n_hot=1, seed=3)
    s = detect_skew(skewed, KEY_COLUMNS, partitions=128, sample_fraction=0.05)
    assert s["key_salt"] is not None and s["key_salt"] >= 8
    assert s["hot_keys"] == []  # the hot conv's 50 turns are each cool
    # residual-skew gate: with a base salt already spreading the bucket
    # 32 ways, the same conversation is NOT worth wide-salting
    s_gated = detect_skew(
        skewed, KEY_COLUMNS, partitions=128, sample_fraction=0.05, base_key_salt=32
    )
    assert s_gated["key_salt"] is None

    # one single (conv, turn) key carrying 30% of all events
    base = gen_changes(spark, 20_000, n_convs=500, hot_frac=0.0, seed=5)
    hot_key = base.limit(1).select("conv_id", "turn_idx")
    hot_events = (
        base.sample(0.3, seed=6)
        .drop("conv_id", "turn_idx")
        .crossJoin(F.broadcast(hot_key))
        .select(*base.columns)
    )
    mixed = base.unionByName(hot_events)
    s2 = detect_skew(mixed, KEY_COLUMNS, partitions=32, sample_fraction=0.05)
    assert len(s2["hot_keys"]) == 1 and s2["salt"] >= 4

    uniform = gen_changes(spark, 40_000, n_convs=20_000, hot_frac=0.0, seed=4)
    s3 = detect_skew(uniform, KEY_COLUMNS, partitions=32, sample_fraction=0.05)
    assert s3["hot_keys"] == [] and s3["salt"] == 0 and s3["key_salt"] is None


def test_auto_salt_records_metrics_and_matches_oracle(spark, tmp_path):
    """AUTO mode on a Zipf-hot log: the commit summary carries the
    salt decision (per-commit metrics, north rule) and the final state
    still equals the replay oracle."""
    table = make_table(spark, tmp_path)
    changes = gen_changes(spark, 30_000, n_convs=100, hot_frac=0.8, n_hot=1, seed=8)
    # widen the partition count so the hot conversation exceeds the
    # residual-skew gate (at the test session's 8 partitions the base
    # salt already absorbs it — correctly no salting)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    try:
        apply_changes(table, changes)  # default: auto
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    m = table.snapshot.summary.get("metrics", {})
    assert m.get("salt_partitions", 0) >= 8  # hot conv -> widened key salt
    assert m.get("hot_conversations", 0) == 1
    # the conv's individual turns are cool; the min-sample floor keeps
    # sampling noise from flagging them as hot full keys
    assert m.get("hot_keys_detected", 0) == 0
    assert_state_equals_oracle(table, changes.toPandas())


def test_auto_salt_hot_full_key_matches_oracle(spark, tmp_path):
    """AUTO mode with an un-splittable hot (conv, turn) key: the salted
    pre-aggregation path engages and the result matches the oracle."""
    table = make_table(spark, tmp_path)
    base = gen_changes(spark, 10_000, n_convs=300, hot_frac=0.0, seed=13)
    hot_key = base.limit(1).select("conv_id", "turn_idx")
    # 3x the base volume onto ONE (conv, turn) key: 75% of the union —
    # above the 4-tasks'-worth cutoff even at the test session's 8
    # shuffle partitions
    hot_events = (
        base.withColumn("_r", F.explode(F.array(*[F.lit(i) for i in range(3)])))
        .drop("_r", "conv_id", "turn_idx")
        .crossJoin(F.broadcast(hot_key))
        .select(*base.columns)
    )
    mixed = base.unionByName(hot_events)
    apply_changes(table, mixed)
    m = table.snapshot.summary.get("metrics", {})
    assert m.get("hot_keys_detected", 0) >= 1
    assert_state_equals_oracle(table, mixed.toPandas())
