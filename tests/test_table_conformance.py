"""KeyedTable conformance suite — the Iceberg-seam proof.

Every test here is parametrized over BOTH table formats (LakeTable's
snapshot manifests, DirTable's Delta-style commit log) and drives them
through the SAME engine components (``apply_changes``, ``start_ingest``,
``commit_with_retry``). Passing both means ``docs/ICEBERG_ADAPTER.md``'s
claim — "swapping formats is a constructor change, not an engine
change" — is executable, not aspirational.
"""

from __future__ import annotations

import inspect
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_framework_spark.cdc import apply_changes
from etl_framework_spark.datagen import gen_changes
from etl_framework_spark.lakehouse import (
    CommitConflict,
    DirTable,
    KeyedTable,
    LakeTable,
    commit_with_retry,
)
from etl_framework_spark.lakehouse.iceberg import IcebergTable
from etl_framework_spark.schemas import (
    CHANGE_SCHEMA,
    KEY_COLUMNS,
    TRANSCRIPT_SCHEMA,
)

from tests.oracle import replay

IMPLS = {"lake": LakeTable, "dir": DirTable}


@pytest.fixture(params=sorted(IMPLS))
def impl(request):
    return IMPLS[request.param]


STORED = T.StructType(
    TRANSCRIPT_SCHEMA.fields
    + [
        T.StructField("_lsn", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)

SIMPLE = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SIMPLE)


def test_satisfies_protocol(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    assert isinstance(t, KeyedTable)


def test_formats_share_protocol_signatures():
    """Every format declares the protocol's parameter names, so an
    option cannot drift back into one format alone."""
    for name in (
        "read", "current", "touched_buckets", "changes_between", "file_stats",
        "append", "overwrite", "merge", "compact", "rebucket", "expire_snapshots",
    ):
        want = list(inspect.signature(getattr(KeyedTable, name)).parameters)
        for cls in (LakeTable, DirTable, IcebergTable):
            got = list(inspect.signature(getattr(cls, name)).parameters)
            assert got == want, f"{cls.__name__}.{name}{got} != KeyedTable.{name}{want}"


def test_create_on_existing_path_raises(spark, tmp_path, impl):
    path = str(tmp_path / "t")
    impl.create(spark, path, SIMPLE, ["id"], n_buckets=4).append(_df(spark, [(1, "a")]))
    with pytest.raises(FileExistsError):
        impl.create(spark, path, SIMPLE, ["id"], n_buckets=4)
    assert [r["v"] for r in impl(spark, path).current().collect()] == ["a"]


def test_append_read_current_roundtrip(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    got = sorted((r["id"], r["v"]) for r in t.current().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # bucket pruning returns a subset that unions back to the whole
    per_bucket = []
    for b in range(4):
        per_bucket.extend(
            (r["id"], r["v"]) for r in t.read(buckets=[b]).collect()
        )
    assert sorted(per_bucket) == got


def test_overwrite_replaces_everything(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=4)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert [(r["id"], r["v"]) for r in t.current().collect()] == [(9, "z")]


def test_time_travel_and_history(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    v1 = t.append(_df(spark, [(1, "a")]))
    v2 = t.append(_df(spark, [(2, "b")]))
    assert t.version == v2 > v1
    assert t.read(version=v1).count() == 1
    assert t.read(version=v2).count() == 2
    ops = [h["summary"].get("operation") for h in t.history()]
    assert ops[-2:] == ["append", "append"]


def test_time_travel_reads_version_schema(spark, tmp_path, impl):
    """``read(version=v)`` serves v under v's OWN schema: a column added
    by a later evolution is absent from the pre-evolution version (the
    time-travel semantics of Delta and Iceberg)."""
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    v1 = t.append(_df(spark, [(1, "a")]))
    wide = T.StructType(
        SIMPLE.fields + [T.StructField("extra", T.StringType(), True)]
    )
    t.append(spark.createDataFrame([(2, "b", "x")], wide))
    assert t.schema.fieldNames() == ["id", "v", "extra"]
    old = t.read(version=v1)
    assert old.columns == ["id", "v"]
    assert [(r["id"], r["v"]) for r in old.collect()] == [(1, "a")]
    assert t.read().columns == ["id", "v", "extra"]


def test_epoch_markers_are_exactly_once(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    assert t.last_epoch("s") == -1
    t.append(_df(spark, [(1, "a")]), epoch=("s", 0))
    assert t.last_epoch("s") == 0
    t.append(_df(spark, [(2, "b")]), epoch=("s", 1))
    assert t.last_epoch("s") == 1 and t.last_epoch("other") == -1


def test_apply_changes_matches_replay_oracle(spark, tmp_path, impl):
    """The engine's core operator against each format: final LWW state
    equals the sequential replay oracle, per-turn text equality."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 4000, seed=7)
    pdf = changes.toPandas()
    apply_changes(t, changes, stream_id="s", epoch_id=0)
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(
        got, exp.reset_index(drop=True), check_dtype=False
    )


def test_apply_changes_epoch_redelivery_is_noop(spark, tmp_path, impl):
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 1500, seed=3)
    v = apply_changes(t, changes, stream_id="s", epoch_id=0)
    assert v is not None
    before = t.current().count()
    assert apply_changes(t, changes, stream_id="s", epoch_id=0) is None
    assert t.refresh().current().count() == before


def test_schema_evolution_mid_stream(spark, tmp_path, impl):
    """Evolved batch adds a column; a NARROW batch afterwards still
    reads back upcast to the evolved schema (per-schema-group reads)."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    apply_changes(t, gen_changes(spark, 1000, seed=1), stream_id="s", epoch_id=0)
    apply_changes(
        t,
        gen_changes(spark, 800, seed=2, evolved=True, lsn_start=10_000),
        stream_id="s",
        epoch_id=1,
    )
    assert "tool_meta" in t.schema.fieldNames()
    apply_changes(
        t,
        gen_changes(spark, 500, seed=3, lsn_start=20_000),
        stream_id="s",
        epoch_id=2,
    )
    cur = t.current()
    assert "tool_meta" in cur.columns
    assert cur.count() > 0
    # evolved rows kept their payload through the narrow batch
    assert cur.where(F.col("tool_meta").isNotNull()).count() > 0


def test_merge_conflicts_on_concurrent_same_bucket_write(spark, tmp_path, impl):
    """A second handle that rewrote the same bucket between read and
    commit must surface CommitConflict (no lost update)."""
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=4)
    a, b = impl(spark, path), impl(spark, path)
    c1 = gen_changes(spark, 300, seed=5)
    c2 = gen_changes(spark, 300, seed=5, lsn_start=5000)  # same keys
    apply_changes(a, c1, stream_id="x", epoch_id=0)
    b.refresh()

    # stale handle a: write via merge against pre-b state
    apply_changes(b, c2, stream_id="y", epoch_id=0)
    # a's snapshot is now stale; a raw merge with its old expected view
    # must conflict. Reproduce by monkey-level: use the stale handle's
    # cached state through a no-refresh merge.
    from etl_framework_spark.cdc.apply import resolve_lww_bucketed

    with pytest.raises(CommitConflict):
        a.merge(
            c2,
            resolve=lambda tgt, s: resolve_lww_bucketed(
                tgt, s, KEY_COLUMNS, KEY_COLUMNS[0], a.n_buckets
            ),
            evolve_schema=STORED,
        )


def test_concurrent_writers_converge_with_retry(spark, tmp_path, impl):
    """Two threads applying different streams to the SAME table both
    commit via the bounded optimistic loop (commit_with_retry is format-
    agnostic)."""
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=4)
    errs: list[Exception] = []

    def work(stream, seed, lsn0):
        try:
            t = impl(spark, path)
            apply_changes(
                t,
                gen_changes(spark, 400, seed=seed, lsn_start=lsn0),
                stream_id=stream,
                epoch_id=0,
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th = [
        threading.Thread(target=work, args=("sA", 11, 1)),
        threading.Thread(target=work, args=("sB", 12, 100_000)),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert errs == []
    t = impl(spark, path)
    assert t.last_epoch("sA") == 0 and t.last_epoch("sB") == 0
    assert t.current().count() > 0


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}"), (i + 100, f"w{i}")]))
    before = sorted((r["id"], r["v"]) for r in t.current().collect())
    t.compact(min_files=2)
    after = sorted((r["id"], r["v"]) for r in t.refresh().current().collect())
    assert after == before


def test_expire_snapshots_bounds_history_keeps_data(spark, tmp_path, impl):
    t = impl.create(spark, str(tmp_path / "t"), SIMPLE, ["id"], n_buckets=2)
    for i in range(12):
        t.append(_df(spark, [(i, f"v{i}")]))
    live = t.current().count()
    out = t.expire_snapshots(keep_last=3, grace_seconds=0)
    assert out["expired_snapshots"] > 0
    t2 = impl(spark, t.path)
    assert t2.current().count() == live
    # newest version still time-travels; far past does not
    assert t2.read(version=t2.version).count() == live
    with pytest.raises((ValueError, FileNotFoundError)):
        t2.read(version=1)


def test_streaming_ingest_through_factory(spark, tmp_path, impl):
    """start_ingest(table_factory=impl): the full Structured Streaming
    path (checkpointed micro-batches -> apply_changes) is format-
    agnostic end-to-end."""
    from etl_framework_spark.streaming import run_to_completion

    changes = gen_changes(spark, 2000, seed=9)
    pdf = changes.toPandas()
    log_dir = str(tmp_path / "log")
    n = len(pdf)
    half = pdf.sort_values("lsn").iloc[: n // 2]
    rest = pdf.sort_values("lsn").iloc[n // 2:]
    spark.createDataFrame(half, CHANGE_SCHEMA).coalesce(1).write.parquet(
        f"{log_dir}/b0"
    )
    spark.createDataFrame(rest, CHANGE_SCHEMA).coalesce(1).write.parquet(
        f"{log_dir}/b1"
    )
    path = str(tmp_path / "t")
    impl.create(spark, path, STORED, KEY_COLUMNS, n_buckets=8)
    run_to_completion(
        spark,
        path,
        log_dir,
        str(tmp_path / "ckpt"),
        CHANGE_SCHEMA,
        stream_id="stream",
        table_factory=impl,
    )
    t = impl(spark, path)
    got = (
        t.current()
        .select("conv_id", "turn_idx", "text", "_lsn")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = replay(pdf)[["conv_id", "turn_idx", "text", "_lsn"]]
    pd.testing.assert_frame_equal(
        got, exp.reset_index(drop=True), check_dtype=False
    )
    assert t.last_epoch("stream") >= 0


def test_changes_between_matches_state_diff(spark, tmp_path, impl):
    """CDC-out on BOTH formats: apply the log in two lsn-halves, then
    changes_between(v1, v2) must equal the key-level diff of the two
    replay-oracle states (I = appeared, D = disappeared, U = lsn moved)."""
    t = impl.create(
        spark, str(tmp_path / "t"), STORED, KEY_COLUMNS, n_buckets=8
    )
    changes = gen_changes(spark, 3000, seed=17)
    pdf = changes.toPandas().sort_values(["ts", "lsn"], kind="mergesort")
    half = len(pdf) // 2
    for ep, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        batch = spark.createDataFrame(part, schema=CHANGE_SCHEMA)
        apply_changes(t, batch, stream_id="s", epoch_id=ep)
    v1, v2 = t.version - 1, t.version

    s1 = replay(pdf.iloc[:half]).set_index(["conv_id", "turn_idx"])
    s2 = replay(pdf).set_index(["conv_id", "turn_idx"])
    expected = {}
    for k in s2.index.difference(s1.index):
        expected[k] = "I"
    for k in s1.index.difference(s2.index):
        expected[k] = "D"
    both = s1.index.intersection(s2.index)
    moved = both[s1.loc[both, "_lsn"].to_numpy() != s2.loc[both, "_lsn"].to_numpy()]
    for k in moved:
        expected[k] = "U"

    got = {
        (r["conv_id"], r["turn_idx"]): r["_change_type"]
        for r in t.changes_between(v1, v2).collect()
    }
    assert got == expected
    # and U/I rows carry the NEW payload
    feed = t.changes_between(v1, v2).where("_change_type != 'D'").collect()
    for r in feed:
        assert r["text"] == s2.loc[(r["conv_id"], r["turn_idx"]), "text"]
