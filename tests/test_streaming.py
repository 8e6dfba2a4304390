"""Continuous (Structured Streaming) view maintenance.

End-to-end: delta batches arrive as parquet files in a watched
directory; the maintainer applies each micro-batch with the SAME IVM
rewrite as batch mode; final state must equal the batch recompute."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ivm_extension_spark import IVMEngine
from ivm_extension_spark.streaming import (
    StreamingViewMaintainer,
    sessionize,
    streaming_dedup,
    windowed_aggregate,
)

from tests.conftest import rows

SCHEMA = "a int, b string, c string"
DELTA_SCHEMA = "a int, b string, c string, _duckdb_ivm_multiplicity boolean"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ivm_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_ivm_maintains_view(spark, tmpdir):
    eng = IVMEngine(spark)
    eng.register_table(
        "t", spark.createDataFrame([(1, "x", "p"), (2, "y", "q")], schema=SCHEMA)
    )
    eng.create_immv("v", sql="SELECT b, sum(a) AS s, count(c) AS n FROM t GROUP BY b")

    delta_dir = f"{tmpdir}/deltas"
    # batch 1: insert (3,x), delete (2,y); batch 2: insert (7,z)
    spark.createDataFrame(
        [(3, "x", "r", True), (2, "y", "q", False)], schema=DELTA_SCHEMA
    ).write.parquet(f"{delta_dir}/b1")
    spark.createDataFrame([(7, "z", "s", True)], schema=DELTA_SCHEMA).write.parquet(
        f"{delta_dir}/b2"
    )

    stream = (
        spark.readStream.schema(DELTA_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{delta_dir}/*")
    )
    maintainer = StreamingViewMaintainer(eng, "v", "t")
    q = maintainer.start(stream, checkpoint_dir=f"{tmpdir}/ckpt")
    q.awaitTermination(120)

    assert maintainer.batches_applied >= 1
    got = rows(eng.read_view("v"))
    assert got == sorted(
        [("x", 4, 2), ("z", 7, 1)], key=lambda t: tuple(map(str, t))
    )


def test_streaming_equals_batch(spark, tmpdir):
    """The streaming invariant: state after all batches == batch recompute."""
    base = [(i, "k" + str(i % 3), "c" + str(i)) for i in range(20)]
    # IVM precondition: deletes must reference existing base rows (Δ⁻ ⊆ T)
    deltas = [
        (i, "k" + str(i % 3), "c" + str(i), False)  # delete an existing row
        if i % 4 == 0
        else (100 + i, "k" + str(i % 3), "d" + str(i), True)  # insert a new one
        for i in range(12)
    ]

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame(base, schema=SCHEMA))
    eng.create_immv("v", sql="SELECT b, sum(a) AS s, count(c) AS n FROM t GROUP BY b")

    delta_dir = f"{tmpdir}/deltas"
    for bi in range(3):
        spark.createDataFrame(
            deltas[bi * 4 : (bi + 1) * 4], schema=DELTA_SCHEMA
        ).write.parquet(f"{delta_dir}/b{bi}")

    stream = (
        spark.readStream.schema(DELTA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{delta_dir}/*")
    )
    q = StreamingViewMaintainer(eng, "v", "t").start(stream, f"{tmpdir}/ckpt")
    q.awaitTermination(180)

    # batch ground truth over the SAME deltas applied at once
    # note: deletes of rows that never existed are clamped (bag floor 0),
    # so build the truth from the streaming-applied base itself
    truth = IVMEngine(spark)
    truth.register_table("t", eng.table("t"))
    got_truth = truth.create_immv(
        "v", sql="SELECT b, sum(a) AS s, count(c) AS n FROM t GROUP BY b"
    )
    assert rows(eng.read_view("v")) == rows(got_truth)


def test_windowed_aggregate_batch_parity(spark):
    """windowed_aggregate works identically on batch frames (same plan)."""
    events = spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", "click", 1.0),
            ("2024-01-01 00:20:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 3.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_aggregate(
        events,
        "ts",
        "1 hour",
        group_cols=("event_type",),
        aggs={"n": "count(*)", "total": "sum(value)"},
    )
    got = {(str(r["window_start"]), r["event_type"]): (r["n"], r["total"]) for r in out.collect()}
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_streaming_join_view_with_static_dim(spark, tmpdir):
    """A join view maintained from the FACT table's delta stream alone:
    the dimension is static (Δ=∅ — partial-delta join rewrite)."""
    eng = IVMEngine(spark)
    eng.register_table(
        "f", spark.createDataFrame([(1, 10), (2, 20)], "a int, k int")
    )
    eng.register_table(
        "dim", spark.createDataFrame([(10, "x"), (20, "y")], "k int, name string")
    )
    eng.create_immv(
        "v",
        sql="SELECT name, sum(a) AS s FROM f JOIN dim ON f.k = dim.k GROUP BY name",
    )

    delta_dir = f"{tmpdir}/deltas"
    spark.createDataFrame(
        [(5, 10, True), (2, 20, False)],
        "a int, k int, _duckdb_ivm_multiplicity boolean",
    ).coalesce(1).write.parquet(f"{delta_dir}/b0")

    stream = (
        spark.readStream.schema("a int, k int, _duckdb_ivm_multiplicity boolean")
        .parquet(f"{delta_dir}/*")
    )
    q = StreamingViewMaintainer(eng, "v", "f").start(stream, f"{tmpdir}/ckpt")
    q.awaitTermination(120)
    assert rows(eng.read_view("v")) == [("x", 6)]  # y net-deleted


def test_streaming_dedup_across_batches(spark, tmpdir):
    """First occurrence of each fingerprint is emitted exactly once, even
    when the duplicate arrives in a LATER micro-batch (cross-batch state
    via applyInPandasWithState)."""
    src = f"{tmpdir}/docs"
    # one file per logical batch: maxFilesPerTrigger=1 then maps files to
    # micro-batches 1:1 (multi-part writes would split a batch arbitrarily)
    spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, fp string"
    ).coalesce(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(
        [(4, "bbb"), (5, "ccc"), (6, "ccc")], "doc_id long, fp string"
    ).coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema("doc_id long, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = streaming_dedup(stream, "doc_id", "fp")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["fingerprint"]: r["id"]
        for r in spark.sql("SELECT * FROM dedup_out").collect()
    }
    # one survivor per fingerprint: min id within a batch wins; earlier
    # batches beat later ones (cross-batch state), so bbb's survivor is 2
    assert set(got) == {"aaa", "bbb", "ccc"}
    assert got["aaa"] == 1 and got["bbb"] == 2 and got["ccc"] == 5
    assert spark.sql("SELECT count(*) n FROM dedup_out").collect()[0]["n"] == 3

    # 100 TB state-shape guarantee (VERDICT r3 item 2): the state store
    # must hold exactly ONE constant-size row per distinct fingerprint
    # (key = fingerprint, value = surviving id) — never a per-shard array
    # of all fingerprints rewritten each batch
    state = spark.read.format("statestore").load(f"{tmpdir}/ckpt")
    rows_ = state.select("key.fingerprint", "value.groupState.first_id").collect()
    assert {(r["fingerprint"], r["first_id"]) for r in rows_} == {
        ("aaa", 1),
        ("bbb", 2),
        ("ccc", 5),
    }


def test_sessionize_batch_and_stream_agree(spark, tmpdir):
    data = [
        ("u1", "2024-01-01 00:00:00"),
        ("u1", "2024-01-01 00:10:00"),  # same session (gap 30m)
        ("u1", "2024-01-01 02:00:00"),  # new session
        ("u2", "2024-01-01 00:05:00"),
    ]
    batch = spark.createDataFrame(data, "user string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got_batch = {
        (r["user"], str(r["session_start"])): r["n_events"]
        for r in sessionize(batch, "user", "ts", gap="30 minutes").collect()
    }
    assert got_batch[("u1", "2024-01-01 00:00:00")] == 2
    assert got_batch[("u1", "2024-01-01 02:00:00")] == 1
    assert got_batch[("u2", "2024-01-01 00:05:00")] == 1

    src = f"{tmpdir}/events"
    batch.write.parquet(f"{src}/b0")
    stream = spark.readStream.schema("user string, ts timestamp").parquet(f"{src}/*")
    q = (
        sessionize(stream, "user", "ts", gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r["user"], str(r["session_start"])): r["n_events"]
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got_stream == got_batch


def test_watermark_drops_late_data(spark, tmpdir):
    """An event arriving after its window fell behind the watermark is
    dropped.  The watermark is persisted in the checkpoint, so two
    sequential runs over the same checkpoint pin the cross-run semantics
    (within one availableNow run the global watermark does not advance
    between micro-batches — late drop is a cross-restart guarantee)."""
    src = f"{tmpdir}/events"

    emitted: list = []

    def run_batch():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).parquet(f"{src}/*")
        agg = windowed_aggregate(
            stream, "ts", "1 hour", watermark="30 minutes",
            group_cols=("event_type",), aggs={"n": "count(*)"},
        )
        emitted.clear()
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {str(r["window_start"]): r["n"] for r in emitted}

    spark.createDataFrame(
        [("2024-01-01 06:00:00", "click", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{src}/b0"
    )
    got = run_batch()
    assert got.get("2024-01-01 06:00:00") == 1

    # 5 hours late — far beyond the 30-minute watermark (now persisted
    # at 05:30 in the checkpoint); must be dropped on the next run
    spark.createDataFrame(
        [("2024-01-01 01:00:30", "click", 100.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
        f"{src}/b1"
    )
    got = run_batch()
    assert "2024-01-01 01:00:00" not in got


def test_windowed_aggregate_streaming_update_mode(spark, tmpdir):
    """Native streaming path: watermark + tumbling window, update mode."""
    src = f"{tmpdir}/events"
    spark.createDataFrame(
        [
            ("2024-01-01 00:05:00", "click", 1.0),
            ("2024-01-01 00:45:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 3.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(f"{src}/b0")

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(
        f"{src}/*"
    )
    agg = windowed_aggregate(
        stream, "ts", "1 hour", watermark="30 minutes",
        group_cols=("event_type",), aggs={"n": "count(*)"},
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_streaming_semi_join_view(spark, tmpdir):
    """A WHERE EXISTS (semi-join) view maintained from the BUILD side's
    delta stream: rows enter/leave as their key's match count crosses
    zero across micro-batches (the counting rule, streaming-composed)."""
    eng = IVMEngine(spark)
    eng.register_table(
        "f", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, s string")
    )
    eng.register_table(
        "d", spark.createDataFrame([(1, 100), (2, 200)], "k int, x int")
    )
    eng.create_immv(
        "v", sql="SELECT k, s FROM f WHERE EXISTS (SELECT 1 FROM d WHERE d.k = f.k)"
    )

    delta_dir = f"{tmpdir}/deltas"
    # batch 0: key 3 gains its first match; batch 1: key 1 loses its only
    # one — ordered batch dirs so available-now processes them in order
    spark.createDataFrame(
        [(3, 300, True)], "k int, x int, _duckdb_ivm_multiplicity boolean"
    ).coalesce(1).write.parquet(f"{delta_dir}/b0")
    spark.createDataFrame(
        [(1, 100, False)], "k int, x int, _duckdb_ivm_multiplicity boolean"
    ).coalesce(1).write.parquet(f"{delta_dir}/b1")

    stream = (
        spark.readStream.schema("k int, x int, _duckdb_ivm_multiplicity boolean")
        .parquet(f"{delta_dir}/*")
    )
    q = StreamingViewMaintainer(eng, "v", "d").start(stream, f"{tmpdir}/ckpt")
    q.awaitTermination(120)
    assert rows(eng.read_view("v")) == [(2, "b"), (3, "c")]


def test_streaming_left_join_view(spark, tmpdir):
    """LEFT JOIN view from the right side's delta stream: the NULL-padded
    row for key 2 must be retracted when its first match arrives."""
    eng = IVMEngine(spark)
    eng.register_table(
        "f", spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    )
    eng.register_table("d", spark.createDataFrame([(1, 100)], "k int, x int"))
    eng.create_immv(
        "v", sql="SELECT s, x FROM f LEFT JOIN d ON f.k = d.k"
    )

    delta_dir = f"{tmpdir}/deltas"
    spark.createDataFrame(
        [(2, 200, True)], "k int, x int, _duckdb_ivm_multiplicity boolean"
    ).coalesce(1).write.parquet(f"{delta_dir}/b0")

    stream = (
        spark.readStream.schema("k int, x int, _duckdb_ivm_multiplicity boolean")
        .parquet(f"{delta_dir}/*")
    )
    q = StreamingViewMaintainer(eng, "v", "d").start(stream, f"{tmpdir}/ckpt")
    q.awaitTermination(120)
    assert rows(eng.read_view("v")) == [("a", 100), ("b", 200)]


def test_streaming_chain_view_dim_delta(spark, tmpdir):
    """3-table LEFT-join chain maintained from the LAST dimension's delta
    stream (rewrite._fold_joins under foreachBatch): batch 0
    retracts key 11's NULL padding when its match arrives, batch 1
    restores key 10's padding when its only match is deleted."""
    eng = IVMEngine(spark)
    eng.register_table(
        "f", spark.createDataFrame([(1, 0), (2, 1)], "a int, k int")
    )
    eng.register_table(
        "d",
        spark.createDataFrame([(0, "x", 10), (1, "y", 11)], "k int, nm string, gk int"),
    )
    eng.register_table(
        "g", spark.createDataFrame([(10, "L10")], "gk int, lb string")
    )
    eng.create_immv(
        "v",
        sql="SELECT a, nm, lb FROM f LEFT JOIN d ON f.k = d.k "
        "LEFT JOIN g ON d.gk = g.gk",
    )

    delta_dir = f"{tmpdir}/deltas"
    spark.createDataFrame(
        [(11, "L11", True)], "gk int, lb string, _duckdb_ivm_multiplicity boolean"
    ).coalesce(1).write.parquet(f"{delta_dir}/b0")
    spark.createDataFrame(
        [(10, "L10", False)], "gk int, lb string, _duckdb_ivm_multiplicity boolean"
    ).coalesce(1).write.parquet(f"{delta_dir}/b1")

    stream = (
        spark.readStream.schema("gk int, lb string, _duckdb_ivm_multiplicity boolean")
        .parquet(f"{delta_dir}/*")
    )
    q = StreamingViewMaintainer(eng, "v", "g").start(stream, f"{tmpdir}/ckpt")
    q.awaitTermination(120)
    assert rows(eng.read_view("v")) == [(1, "x", None), (2, "y", "L11")]


def test_interval_join_batch_parity(spark):
    # the identical plan runs on batch inputs: equi-join on the key with
    # the time range as a filter — parity against the brute-force join
    from ivm_extension_spark.streaming import interval_join

    clicks = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 10:00:00"),
            (1, 11, "2024-01-01 12:00:00"),
            (2, 12, "2024-01-01 10:05:00"),
        ],
        "user_id int, click_id int, c_ts string",
    ).select("user_id", "click_id", F.col("c_ts").cast("timestamp").alias("c_ts"))
    purch = spark.createDataFrame(
        [
            (1, 20, "2024-01-01 10:20:00"),   # within 30m of click 10
            (1, 21, "2024-01-01 11:59:00"),   # before click 11, after 10+30m
            (2, 22, "2024-01-01 10:04:00"),   # BEFORE click 12 — excluded
            (3, 23, "2024-01-01 10:00:00"),   # no click for user 3
        ],
        "user_id int, purchase_id int, p_ts string",
    ).select(
        "user_id", "purchase_id", F.col("p_ts").cast("timestamp").alias("p_ts")
    )
    got = sorted(
        (r.click_id, r.purchase_id)
        for r in interval_join(
            clicks, purch, ("user_id",), "c_ts", "p_ts", upper="30 minutes"
        ).collect()
    )
    assert got == [(10, 20)]


def test_interval_join_stream_stream(spark, tmpdir):
    # REAL stream-stream join: both sides live file streams, watermarked;
    # availableNow result equals the batch plan over the same files
    from ivm_extension_spark.streaming import interval_join

    cdir, pdir, ck = f"{tmpdir}/c", f"{tmpdir}/p", f"{tmpdir}/ck"
    clicks = spark.createDataFrame(
        [(u, 100 + u, f"2024-01-01 10:{u:02d}:00") for u in range(8)],
        "user_id int, click_id int, c_ts string",
    ).select("user_id", "click_id", F.col("c_ts").cast("timestamp").alias("c_ts"))
    purch = spark.createDataFrame(
        [(u, 200 + u, f"2024-01-01 10:{u + 3:02d}:00") for u in range(8)]
        + [(3, 300, "2024-01-01 23:00:00")],  # outside every interval
        "user_id int, purchase_id int, p_ts string",
    ).select(
        "user_id", "purchase_id", F.col("p_ts").cast("timestamp").alias("p_ts")
    )
    clicks.write.parquet(cdir)
    purch.write.parquet(pdir)
    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purch.schema).parquet(pdir)
    out = interval_join(
        cs, ps, ("user_id",), "c_ts", "p_ts", upper="5 minutes",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = rows(spark.table("t_ssj").select("click_id", "purchase_id"))
    exp = rows(
        interval_join(
            clicks, purch, ("user_id",), "c_ts", "p_ts", upper="5 minutes"
        ).select("click_id", "purchase_id")
    )
    assert got == exp
    assert len(got) == 8


# -- crash windows of the per-batch commit (state_dir) ----------------------
#
# The maintainer commits a batch by saving the engine into a fresh
# engine-<batch_id> directory and then renaming the marker onto that id.
# A crash anywhere in between must leave the marker on the previous
# snapshot, and replaying the batch into it must give the recompute.

CRASH_BASE = [(1, "x", "p"), (2, "y", "q"), (3, "x", "r")]
CRASH_BATCHES = [
    [(4, "x", "s", True), (2, "y", "q", False)],
    [(5, "y", "t", True), (1, "x", "p", False)],  # deletes x's minimum
]
CRASH_FINAL = [("x", 7, 2, 3), ("y", 5, 1, 5)]


def _crash_batch_one_then_replay(spark, tmpdir, monkeypatch, inject, check_crash):
    import json

    from pyspark.errors import StreamingQueryException

    sd, ck, src = f"{tmpdir}/state", f"{tmpdir}/ckpt", f"{tmpdir}/deltas"

    def land(batch):
        spark.createDataFrame(batch, DELTA_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(engine):
        m = StreamingViewMaintainer(engine, "v", "t", state_dir=sd)
        stream = spark.readStream.schema(DELTA_SCHEMA).parquet(src)
        m.start(stream, checkpoint_dir=ck).awaitTermination(120)
        return m

    def marker():
        with open(f"{sd}/last_batch_id.json") as f:
            return json.load(f)["last_batch_id"]

    eng = IVMEngine(spark)
    eng.register_table("t", spark.createDataFrame(CRASH_BASE, schema=SCHEMA))
    eng.create_immv(
        "v", sql="SELECT b, sum(a) AS s, count(*) AS n, min(a) AS lo FROM t GROUP BY b"
    )
    land(CRASH_BATCHES[0])
    run(eng)
    assert marker() == 0
    base0 = eng.table("t")  # the world engine-0 reflects

    land(CRASH_BATCHES[1])
    inject()
    with pytest.raises(StreamingQueryException, match="injected"):
        run(eng)
    monkeypatch.undo()
    assert marker() == 0  # the commit point never moved
    check_crash(f"{sd}/engine-1", base0)

    restored = IVMEngine.load(spark, f"{sd}/engine-0", tables={"t": base0})
    m = run(restored)  # the checkpoint re-delivers batch 1
    assert m.last_batch_id == 1 and marker() == 1
    got = rows(restored.read_view("v"))
    assert got == rows(restored.full_refresh("v")) == CRASH_FINAL


def test_crash_in_final_catalog_write_replays_from_previous_snapshot(
    spark, tmpdir, monkeypatch
):
    real = IVMEngine._write_catalog

    def failing_final_catalog(self, path, text):
        if '"in_progress"' not in text:
            raise RuntimeError("injected catalog write failure")
        real(self, path, text)

    def check_crash(snap, base0):
        import os

        from pyspark.errors import AnalysisException

        # state written, catalog missing: load refuses the snapshot
        assert os.path.isdir(f"{snap}/state/v")
        assert not os.path.exists(f"{snap}/catalog")
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            IVMEngine.load(spark, snap, tables={"t": base0})

    _crash_batch_one_then_replay(
        spark,
        tmpdir,
        monkeypatch,
        lambda: monkeypatch.setattr(IVMEngine, "_write_catalog", failing_final_catalog),
        check_crash,
    )


def test_crash_between_save_and_marker_replays_without_double_apply(
    spark, tmpdir, monkeypatch
):
    import os

    real_replace = os.replace

    def failing_marker_rename(src, dst, *a, **kw):
        if str(dst).endswith("last_batch_id.json"):
            raise RuntimeError("injected crash before the marker rename")
        return real_replace(src, dst, *a, **kw)

    def check_crash(snap, base0):
        # the batch-1 snapshot is complete but uncommitted
        assert os.path.exists(f"{snap}/catalog")

    _crash_batch_one_then_replay(
        spark,
        tmpdir,
        monkeypatch,
        lambda: monkeypatch.setattr(os, "replace", failing_marker_rename),
        check_crash,
    )
