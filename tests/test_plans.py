"""Physical-plan quality gates.

Scale behavior is a property of the PLAN, not the data volume the tests
run at — these assertions pin the plan shapes that make the engine work
at 100 TB: filters reaching the parquet scan, projections pruning the
read schema, small dims broadcast, top-k avoiding global sorts, and the
CDC resolver using exactly ONE exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, lineitem):
    df = lineitem.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_small_dim_join_is_broadcast(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in plan_of(df)


def test_topk_plans_take_ordered(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    df = o.orderBy(F.desc("o_totalprice")).limit(5)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_bucketed_resolver_has_single_exchange(spark):
    """The production LWW resolve must shuffle exactly once (the bucket
    repartition); the window must reuse that partitioning, and no
    further exchange may appear before the write."""
    from etl_framework_spark.cdc.apply import resolve_lww_bucketed
    from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS, TRANSCRIPT_SCHEMA

    stored = T.StructType(
        TRANSCRIPT_SCHEMA.fields
        + [
            T.StructField("_lsn", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    target = spark.createDataFrame([], stored)
    src = spark.createDataFrame([], CHANGE_SCHEMA)
    out = resolve_lww_bucketed(target, src, KEY_COLUMNS, "conv_id", 8, partitions=8)
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_lww_window_not_sort_aggregate(spark):
    """Regression guard: the default dedupe must not fall back to the
    SortAggregate max(struct) formulation (measured 2-3x slower)."""
    from etl_framework_spark.cdc import lww_dedupe
    from etl_framework_spark.schemas import CHANGE_SCHEMA

    src = spark.createDataFrame([], CHANGE_SCHEMA)
    plan = plan_of(lww_dedupe(src))
    assert "SortAggregate" not in plan
    assert "Window" in plan


def test_calc_program_fuses_into_one_codegen_stage(spark):
    """A chained multi-calc program must execute as ONE whole-stage
    codegen pass over the scan: no exchanges, no extra stages. (Catalyst
    keeps dependent projections as separate Project nodes to avoid
    duplicating referenced sub-expressions; fusion happens at codegen.)"""
    from etl_framework_spark.transforms import MappingProgram

    o = spark.read.parquet(f"{SF}/orders.parquet")
    prog = MappingProgram.from_json(
        {
            "calculations": [
                {"name": "a", "formula": "o_totalprice * 1.1"},
                {"name": "b", "formula": "a + 1"},
                {"name": "c", "formula": "b * 2"},
            ]
        }
    )
    plan = plan_of(prog.apply(o))
    assert "Exchange" not in plan
    # every Project carries the same codegen stage id *(1)
    assert "*(2)" not in plan, plan


def test_ivf_stored_probe_is_partition_pruned(spark, tmp_path):
    """A probe on the BUCKETED IVF index must prune at the FILE level:
    the centroid filter appears as PartitionFilters on the scan (only
    probed centroid directories are opened), and the scan reports fewer
    partitions than the index holds."""
    from etl_framework_spark.operators import ivf_build, ivf_read, ivf_write, knn_ivf

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, cents = ivf_build(e, n_centroids=8)
    path = str(tmp_path / "idx")
    ivf_write(assigned, cents, path)
    stored, cents2 = ivf_read(spark, path)
    qvec = [float(x) for x in e.select("embedding").head()["embedding"]]
    probe = knn_ivf(stored, cents2, qvec, k=5, nprobe=2)
    plan = plan_of(probe)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    # results on the stored form match the in-memory form exactly
    mem = knn_ivf(assigned, cents, qvec, k=5, nprobe=2)
    assert [tuple(r) for r in probe.collect()] == [tuple(r) for r in mem.collect()]


def test_bucketed_resolver_hot_salt_keeps_single_exchange(spark):
    """The targeted hot-conversation salt (detect_skew output) is a pure
    column expression — it must not add a shuffle to the resolve plan."""
    from etl_framework_spark.cdc.apply import resolve_lww_bucketed
    from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS, TRANSCRIPT_SCHEMA

    stored = T.StructType(
        TRANSCRIPT_SCHEMA.fields
        + [
            T.StructField("_lsn", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    target = spark.createDataFrame([], stored)
    src = spark.createDataFrame([], CHANGE_SCHEMA)
    out = resolve_lww_bucketed(
        target, src, KEY_COLUMNS, "conv_id", 8, partitions=8,
        hot_first_keys=["conv-1", "conv-2"], hot_key_salt=64,
    )
    plan = plan_of(out)
    assert plan.count("Exchange") == 1, plan


def test_lsn_bounded_read_opens_fewer_files(spark, tmp_path):
    """File-range skipping gate (round-5 VERDICT #2): manifest entries
    record per-file (key, ts, _lsn) min/max at write, and an lsn-bounded
    read must OPEN fewer parquet files than the full scan — the scan
    list itself shrinks (df.inputFiles()), not just the row filter."""
    import datetime

    from etl_framework_spark.cdc import apply_changes
    from etl_framework_spark.lakehouse import LakeTable
    from etl_framework_spark.datagen import gen_changes
    from etl_framework_spark.schemas import CHANGE_SCHEMA, KEY_COLUMNS, TRANSCRIPT_SCHEMA

    t = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEY_COLUMNS, n_buckets=4
    )
    apply_changes(t, gen_changes(spark, 1000, seed=29), stream_id="s", epoch_id=0)
    # narrow second commit: only its bucket's files carry lsn > 1000
    late = spark.createDataFrame(
        [("U", 2000, datetime.datetime(2026, 1, 2), "conv-late", 0, "u", "x", None)],
        CHANGE_SCHEMA,
    )
    apply_changes(t, late, stream_id="s", epoch_id=1)
    t.refresh()
    full_files = t.read().inputFiles()
    bounded = t.read(ranges={"_lsn": (1500, None)})
    assert 0 < len(bounded.inputFiles()) < len(full_files)
    assert [r.conv_id for r in bounded.where(F.col("_lsn") >= 1500).collect()] == [
        "conv-late"
    ]


def test_align_to_schema_projects_only_when_the_shape_differs(spark):
    """A frame that already has the target's names, order and types is
    returned as the very same object (no per-column cast and alias);
    otherwise only the columns whose type differs are cast, missing
    columns become NULL, and ``keep`` columns pass through."""
    from etl_framework_spark.lakehouse.table import align_to_schema

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
            T.StructField("n", T.IntegerType(), True),
        ]
    )
    same = spark.createDataFrame([(1, "a", 2)], schema)
    assert align_to_schema(same, schema) is same
    with_bucket = same.withColumn("_bucket", F.lit(3))
    assert align_to_schema(with_bucket, schema, keep=["_bucket"]) is with_bucket

    # an int batch into a long column, one column missing
    narrow = spark.createDataFrame(
        [(7, "x")],
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), True),
                T.StructField("v", T.StringType(), True),
            ]
        ),
    ).withColumn("_bucket", F.lit(1))
    out = align_to_schema(narrow, schema, keep=["_bucket"])
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("id", T.LongType()),
        ("v", T.StringType()),
        ("n", T.IntegerType()),
        ("_bucket", T.IntegerType()),
    ]
    assert out.collect() == [(7, "x", None, 1)]
    project = out._jdf.queryExecution().analyzed().toString()
    assert "cast(id" in project and "cast(v" not in project

    # an extra column, or the right columns in another order, still
    # get projected onto the target
    for df in (same.withColumn("extra", F.lit(0)), same.select("v", "id", "n")):
        got = align_to_schema(df, schema)
        assert got is not df
        assert got.schema == schema
        assert got.collect() == [(1, "a", 2)]


def test_relay_sync_job_counts(spark, tmp_path):
    """A sync into a merge-on-read ("replace") replica is one lazy plan
    from the change feed to the delta write: no persisted feed and no
    count job before the merge. Guards the job count of a delta-only
    interval (the feed's key-scoped fast path) and of one holding a
    source compaction (the full diff)."""
    from etl_framework_spark.cdc import apply_changes, sync_once
    from etl_framework_spark.datagen import gen_changes
    from etl_framework_spark.lakehouse import DirTable, LakeTable
    from etl_framework_spark.schemas import KEY_COLUMNS, TRANSCRIPT_SCHEMA

    stored = T.StructType(
        TRANSCRIPT_SCHEMA.fields
        + [
            T.StructField("_lsn", T.LongType(), True),
            T.StructField("_deleted", T.BooleanType(), True),
        ]
    )
    src = LakeTable.create(
        spark, str(tmp_path / "src"), stored, KEY_COLUMNS, n_buckets=8,
        merge_policy="lww",
    )
    dst = DirTable.create(
        spark, str(tmp_path / "dst"), stored, KEY_COLUMNS, n_buckets=8,
        merge_policy="replace",
    )
    log = gen_changes(spark, 6000, seed=5)
    epoch = lambda i: log.where(F.col("lsn") % 3 == i)  # noqa: E731
    apply_changes(src, epoch(0), stream_id="s", epoch_id=0)
    sync_once(src, dst)
    sc = spark.sparkContext

    def sync_jobs(group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            assert sync_once(src, dst) is not None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    apply_changes(src, epoch(1), stream_id="s", epoch_id=1)
    assert sync_jobs("relay-delta-only") <= 5
    src.refresh().compact(min_files=2)
    apply_changes(src, epoch(2), stream_id="s", epoch_id=2)
    assert sync_jobs("relay-full-diff") <= 4
