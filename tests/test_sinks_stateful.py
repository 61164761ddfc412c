"""Write-path roundtrips and stateful-streaming state carry-over."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table
from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
    write_csv,
    write_parquet_partitioned,
    write_single_text,
)

from .conftest import SF_DIR


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    o = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = str(tmp_path / "orders_by_status")
    write_parquet_partitioned(o, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == o.count()
    # partition pruning works on the layout: one status reads one directory
    pruned = back.where(F.col("o_orderstatus") == "F")
    assert pruned.count() == o.where(F.col("o_orderstatus") == "F").count()
    # hive-style directories exist
    assert any(p.name.startswith("o_orderstatus=") for p in (tmp_path / "orders_by_status").iterdir())


def test_csv_roundtrip(spark, tmp_path):
    n = read_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(n, out)
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert sorted(back.columns) == sorted(n.columns)
    assert back.count() == n.count()


def test_json_roundtrip(spark, tmp_path):
    """JSON source/sink parity: write line-delimited JSON, read with an
    explicit schema (schema inference is a full extra pass at scale)."""
    n = read_table(spark, SF_DIR, "nation")
    out = str(tmp_path / "nation_json")
    n.write.mode("overwrite").json(out)
    back = spark.read.schema(n.schema).json(out)
    assert back.count() == n.count()
    assert back.exceptAll(n).count() == 0 and n.exceptAll(back).count() == 0


def test_single_text_sink(spark, tmp_path):
    df = spark.createDataFrame([("Sun: 1.0, Mon: 2.0",)], ["line"])
    out = str(tmp_path / "o2")
    write_single_text(df, out)
    files = [p for p in (tmp_path / "o2").iterdir() if p.name.startswith("part-")]
    assert len(files) == 1  # O2 shape: exactly one text file (Sample.cs:245-262)
    assert spark.read.text(out).count() == 1


def test_stateful_first_seen_across_batches(spark, tmp_path):
    """State must carry across micro-batches: split events over 3 files,
    feed one file per trigger, and check the final per-key winner equals
    the batch answer."""
    from durablefunctions_mapreduce_dotnet_spark.streaming.stateful import (
        first_seen_stateful,
    )

    ev = read_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    src_dir = tmp_path / "ev_split"
    ev.repartition(3).write.parquet(str(src_dir))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    out = first_seen_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("fs_multi")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, "expected one micro-batch per file"

    emitted = spark.table("fs_multi")
    # last emission per key wins; first_ts only ever decreases, so the
    # final winner is the per-key minimum of emissions.
    final = emitted.groupBy("user_id").agg(
        F.min(F.struct("first_ts", "first_event_id")).alias("w")
    ).select("user_id", "w.first_ts", "w.first_event_id")

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expect = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("first_ts"), F.col("event_id").alias("first_event_id"))
    )
    assert final.exceptAll(expect).count() == 0 and expect.exceptAll(final).count() == 0


def test_merge_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE without a table format: updated keys replaced, new keys
    appended, and partitions the batch doesn't touch keep their exact
    files on disk (dynamic partition overwrite, no full-table rewrite)."""
    import glob

    from pyspark.sql import functions as F

    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "b", 40.0)],
        "id long, part string, v double",
    )
    base.write.partitionBy("part").parquet(path)
    before_b = sorted(glob.glob(f"{path}/part=b/*.parquet"))

    updates = spark.createDataFrame(
        [(2, "a", 99.0), (5, "a", 50.0)], "id long, part string, v double"
    )
    merge_upsert_partitioned(spark, path, updates, ["id"], "part")

    got = {
        r["id"]: r["v"]
        for r in spark.read.parquet(path).select("id", "v").collect()
    }
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0, 5: 50.0}
    # partition b was never named by the batch: same files, byte-stable
    assert sorted(glob.glob(f"{path}/part=b/*.parquet")) == before_b


def test_merge_upsert_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """Dynamic overwrite is a per-write option: the upsert must never
    flip the session-wide ``partitionOverwriteMode``, which concurrent
    writers sharing the session would race on.  With ``conf.set``
    forbidden, the upsert still rewrites only the touched partition."""
    import glob

    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, part string, v double",
    ).write.partitionBy("part").parquet(path)
    before_b = sorted(glob.glob(f"{path}/part=b/*.parquet"))
    updates = spark.createDataFrame([(2, "a", 99.0)], "id long, part string, v double")
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    def forbidden(*args, **kwargs):
        raise AssertionError(f"session conf changed: {args}")

    monkeypatch.setattr(spark.conf, "set", forbidden)
    merge_upsert_partitioned(spark, path, updates, ["id"], "part")
    monkeypatch.undo()

    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    assert sorted(glob.glob(f"{path}/part=b/*.parquet")) == before_b
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode


def test_merge_upsert_preserves_null_partition_rows(spark, tmp_path):
    """NULL partition values never match isin() — the upsert must still
    read (and retain) the NULL-partition slice when the batch touches it."""
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 10.0), (7, None, 70.0), (8, None, 80.0)],
        "id long, part string, v double",
    ).write.partitionBy("part").parquet(path)
    updates = spark.createDataFrame([(8, None, 99.0)], "id long, part string, v double")
    merge_upsert_partitioned(spark, path, updates, ["id"], "part")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 7: 70.0, 8: 99.0}


def test_stateful_first_seen_ignores_null_timestamps(spark, tmp_path):
    """A batch of only-NULL timestamps must not poison state: NaT would
    win every later comparison (NaT < x and x < NaT are both False), so
    the real earliest event could never displace it."""
    import datetime as dt

    from durablefunctions_mapreduce_dotnet_spark.streaming.stateful import (
        first_seen_stateful,
    )

    src_dir = tmp_path / "nullts"
    # file 1: null ts only; file 2: the real event — 2 micro-batches
    spark.createDataFrame(
        [(1, None, 42)], "event_id long, ts timestamp, user_id long"
    ).coalesce(1).write.parquet(str(src_dir))
    spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 2), 42)],
        "event_id long, ts timestamp, user_id long",
    ).coalesce(1).write.mode("append").parquet(str(src_dir))

    schema = "event_id long, ts timestamp, user_id long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        first_seen_stateful(stream)
        .writeStream.format("memory")
        .queryName("fs_nullts")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM fs_nullts ORDER BY user_id"
    ).collect()
    spark.catalog.dropTempView("fs_nullts")
    winners = {r["user_id"]: (r["first_ts"], r["first_event_id"]) for r in rows}
    assert winners[42] == (dt.datetime(2024, 1, 2), 2)


def test_merge_upsert_bootstraps_missing_target(spark, tmp_path):
    """The first batch against a not-yet-existing target must create the
    table instead of crashing on the read."""
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
        merge_upsert_partitioned,
    )

    path = str(tmp_path / "fresh")
    updates = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, part string, v double"
    )
    merge_upsert_partitioned(spark, path, updates, ["id"], "part")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 20.0}


def test_streaming_file_sink_matches_memory_sink(spark, tmp_path):
    """run_to_files (foreachBatch -> parquet, the production drain) must
    land the same rows the memory-sink harness path returns for the
    streaming flagship aggregation."""
    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        _stream_events,
        run_to_files,
        run_to_memory,
    )
    from durablefunctions_mapreduce_dotnet_spark.functions.taxi import (
        dotnet_dayofweek,
        finite,
    )
    from durablefunctions_mapreduce_dotnet_spark.functions.numeric import dsum

    src = _stream_events(spark, SF_DIR)
    agg = (
        src.where((F.col("value") > 0) & finite(F.col("value")))
        .groupBy(F.col("event_type").alias("file"), dotnet_dayofweek("ts").alias("dow"))
        .agg(dsum("value", "sum_value"), F.count(F.lit(1)).alias("c"))
    )
    mem = sorted(tuple(r) for r in run_to_memory(agg, "complete").collect())
    filed = run_to_files(
        agg, str(tmp_path / "out"), str(tmp_path / "ckpt"), mode="complete"
    )
    assert sorted(tuple(r) for r in filed.collect()) == mem
    assert len(mem) > 0


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "small_files")
    out = str(tmp_path / "compacted")
    # 64 tiny files (one per partition)
    spark.range(10_000).repartition(64).write.parquet(src)
    import glob

    n_before = len(glob.glob(f"{src}/part-*"))
    assert n_before == 64
    n = compact_parquet(spark, src, out, target_file_bytes=10 * 1024 * 1024)
    n_after = len(glob.glob(f"{out}/part-*"))
    assert n == 1 and n_after == 1  # ~80 KB of data -> one file
    # identical contents
    assert (
        spark.read.parquet(out).agg({"id": "sum"}).collect()[0][0]
        == spark.range(10_000).agg({"id": "sum"}).collect()[0][0]
    )


def test_streaming_file_sink_restart_is_idempotent(spark, tmp_path):
    """Exactly-once restart semantics: re-running the same streaming
    query with the SAME checkpoint and an unchanged source produces no
    new micro-batch — the on-disk result is byte-identical, not doubled.
    (This is the checkpoint contract run_to_files documents.)"""
    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        _stream_events,
        run_to_files,
    )
    from .conftest import SF_DIR
    from pyspark.sql import functions as F

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def agg():
        src = _stream_events(spark, SF_DIR)
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    first = {(r.event_type, r.n) for r in run_to_files(agg(), out, ckpt).collect()}
    again = {(r.event_type, r.n) for r in run_to_files(agg(), out, ckpt).collect()}
    assert first == again and len(first) > 0


def test_staged_pipeline_resumes_past_completed_stages(spark, tmp_path):
    """Kill a two-stage pipeline between stages; the re-run must resume
    past stage 1 without recomputing it (the reference's event-sourced
    replay, README.md:40/73, at job granularity)."""
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import StagedPipeline

    root = str(tmp_path / "run")
    calls = {"clean": 0, "agg": 0}

    def build_clean():
        calls["clean"] += 1
        return spark.range(100).selectExpr("id", "id % 7 AS k")

    def build_agg(clean):
        calls["agg"] += 1
        return clean.groupBy("k").count()

    # run A: stage 1 lands, then the driver "dies" before stage 2
    run_a = StagedPipeline(spark, root)
    run_a.stage("clean", build_clean)
    assert run_a.log == [("clean", "computed")] and calls["clean"] == 1

    # run B: fresh driver, same script — stage 1 resumed, stage 2 built
    run_b = StagedPipeline(spark, root)
    clean = run_b.stage("clean", build_clean)
    agg = run_b.stage("agg", lambda: build_agg(clean))
    assert calls["clean"] == 1  # builder never re-ran
    assert calls["agg"] == 1
    assert run_b.log == [("clean", "resumed"), ("agg", "computed")]
    assert {(r.k, r["count"]) for r in agg.collect()} == {
        (i, 15 if i < 2 else 14) for i in range(7)
    }

    # run C: everything resumed
    run_c = StagedPipeline(spark, root)
    run_c.stage("clean", build_clean)
    run_c.stage("agg", lambda: build_agg(clean))
    assert calls == {"clean": 1, "agg": 1}
    assert [s for _, s in run_c.log] == ["resumed", "resumed"]


def test_staged_pipeline_rebuilds_partial_stage_without_marker(spark, tmp_path):
    """A stage directory WITHOUT the _SUCCESS marker is a mid-write
    crash: the stage must be rebuilt, not trusted."""
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import StagedPipeline

    root = tmp_path / "run"
    # fabricate a partial write: data file present, no _SUCCESS
    stage_dir = root / "clean"
    stage_dir.mkdir(parents=True)
    (stage_dir / "part-00000.parquet").write_bytes(b"garbage partial write")

    pipe = StagedPipeline(spark, str(root))
    assert not pipe.completed("clean")
    out = pipe.stage("clean", lambda: spark.range(10).selectExpr("id"))
    assert pipe.log == [("clean", "computed")]
    assert out.count() == 10

    # reset() invalidates a completed stage
    assert pipe.completed("clean")
    pipe.reset("clean")
    assert not pipe.completed("clean")


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_transform_with_state_running_extrema(spark, tmp_path):
    """transformWithStateInPandas running max/count equals the batch
    GROUP BY (lights up when google.protobuf exists)."""
    from durablefunctions_mapreduce_dotnet_spark.queries.streaming_q import (
        streaming_running_extrema,
    )

    got = {
        (r.event_type, r.max_value, r.n_events)
        for r in streaming_running_extrema(spark, SF_DIR).collect()
    }
    want = {
        (r.event_type, r.max_value, r.n_events)
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.max("value").alias("max_value"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want


def test_streaming_state_survives_restart_with_new_data(spark, tmp_path):
    """The reference's replay story, mid-stream: run 1 dedups batch A
    and stops; batch B lands (half of it duplicating A's keys); run 2
    with the SAME checkpoint must resume the dedup STATE — only B's
    genuinely-new keys are emitted, A's repeats die against state built
    in a previous process lifetime.  This is the cross-restart
    continuation that the idempotent-restart test (same data, no-op)
    does not exercise."""
    import json

    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        run_to_files,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def write_batch(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(json.dumps({"event_id": i, "user_id": i % 7}) + "\n")

    def dedup_stream():
        s = spark.readStream.schema("event_id bigint, user_id bigint").json(
            str(src)
        )
        return s.dropDuplicates(["event_id"])

    # run 1: batch A (0..49, each id twice — within-run dups die too)
    write_batch("a.json", list(range(50)) + list(range(50)))
    first = run_to_files(dedup_stream(), out, ckpt, mode="append")
    assert first.count() == 50

    # query stopped; batch B arrives: 25..74 (25..49 duplicate run 1)
    write_batch("b.json", list(range(25, 75)))
    second = run_to_files(dedup_stream(), out, ckpt, mode="append")
    rows = second.groupBy("event_id").count().collect()
    assert len(rows) == 75, "new keys 50..74 must appear exactly once"
    assert all(r["count"] == 1 for r in rows), (
        "a key emitted twice means dedup state did NOT survive the restart"
    )


def test_run_to_files_idempotent_replay_is_noop(spark, tmp_path):
    """The ledger makes a replayed foreachBatch body a no-op: invoking
    the sink's write path twice for the same batch id (the at-least-once
    delivery Spark documents for foreachBatch) leaves exactly one copy
    of every row, and the streamed result matches the batch answer."""
    from pyspark.sql import functions as F

    from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table
    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        _stream_events,
        run_to_files_idempotent,
    )

    from .conftest import SF_DIR

    src = _stream_events(spark, SF_DIR)
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = run_to_files_idempotent(
        agg,
        str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
        key_cols=["event_type"],
        partition_col="event_type",
        mode="complete",
    )
    batch = {
        r["event_type"]: r["n"]
        for r in read_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert got == batch

    # simulate the documented at-least-once replay: re-run the committed
    # batch body directly — the ledger must short-circuit it
    import os

    ledger = tmp_path / "tbl" / "_ledger"
    markers = sorted(os.listdir(ledger))
    assert markers  # at least one committed batch
    from durablefunctions_mapreduce_dotnet_spark.sources.sinks import (
        merge_upsert_partitioned,
    )

    # replaying through the public path: a second identical merge of the
    # same rows is also per-key idempotent — still no duplicates
    upd = read_table(spark, SF_DIR, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    merge_upsert_partitioned(
        spark, str(tmp_path / "tbl" / "data"), upd, ["event_type"], "event_type"
    )
    again = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(str(tmp_path / "tbl" / "data")).collect()
    }
    assert again == batch


def test_stateful_ewma_across_batches_matches_batch_answer(spark, tmp_path):
    """The streaming EWMA must CONTINUE the series across micro-batches:
    split events over 3 files (one per trigger) and check the final
    per-(key, day) emission is bit-identical to the single-trigger batch
    answer computed by the same kernel — state (the day->count map) must
    merge, not reset."""
    import numpy as np

    from durablefunctions_mapreduce_dotnet_spark.streaming.stateful import (
        ewma_daily_stateful,
    )

    ev = read_table(spark, SF_DIR, "events").select("event_id", "ts", "event_type")
    src_dir = tmp_path / "ev_ewma_split"
    ev.repartition(3).write.parquet(str(src_dir))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        ewma_daily_stateful(stream)
        .writeStream.format("memory")
        .queryName("ewma_multi")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3, "expected one micro-batch per file"

    emitted = spark.table("ewma_multi").toPandas()
    # each batch re-emits the key's full affected series; the LAST
    # emission per (key, day) is final.  The memory sink preserves
    # arrival order per key, so dedup keep-last after a stable sort.
    final = (
        emitted.groupby(["event_type", "day"], as_index=False)
        .last()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )

    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        run_to_memory,
    )

    one = spark.readStream.schema(ev.schema).parquet(str(src_dir))
    expect = (
        run_to_memory(ewma_daily_stateful(one), "update")
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    assert final[["event_type", "day", "y"]].equals(
        expect[["event_type", "day", "y"]]
    )
    a = final["ewma"].to_numpy(float)
    b = expect["ewma"].to_numpy(float)
    assert (a.view(np.int64) == b.view(np.int64)).all()


def test_streaming_late_data_lifecycle(spark):
    """Watermark late-drop lifecycle invariants (the hash-exact value
    check lives in test_oracle_parity):

    - append mode emits each (day, type) window AT MOST ONCE — the
      one-batch gap between the late-events and eviction watermarks
      really does make resurrection impossible (duplicate keys);
    - the trailing day is withheld (its window end is younger than the
      final watermark, so append mode never finalizes it);
    - Spark's OWN state-operator metric agrees with the oracle's model:
      sum(numRowsDroppedByWatermark) over the run equals the model's
      per-batch count of DISTINCT dropped (window, type) groups — the
      state operator sits above the map-side partial aggregate, so it
      sees (and counts) one partial row per late group per batch, not
      raw input rows (4 raw late rows in one batch sharing a group
      count as 3 here).  Nonzero, so the drop rule is exercised, and
      computed in pure DuckDB from the same closed forms."""
    from durablefunctions_mapreduce_dotnet_spark.queries.streaming_q import (
        _STREAM_LATE_SQL,
    )
    from durablefunctions_mapreduce_dotnet_spark.streaming.stream_ops import (
        streaming_late_data,
    )

    sf01 = "/root/testdata/sf0.01"
    progress: list = []
    out = streaming_late_data(spark, sf01, progress_sink=progress).toPandas()
    assert len(out) > 0
    assert not out.duplicated(["day", "event_type"]).any()
    last_day = (
        read_table(spark, sf01, "events")
        .agg(F.date_format(F.max(F.date_trunc("day", "ts")), "yyyy-MM-dd"))
        .first()[0]
    )
    assert last_day not in set(out["day"])

    spark_dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf01}/events.parquet')"
    )
    # the oracle's CTE chain up to `kept`, rewired to count the
    # COMPLEMENT as the state operator sees it: one partial row per
    # dropped (window, type) group per batch
    kept_sql = _STREAM_LATE_SQL[: _STREAM_LATE_SQL.index("frontier AS")]
    oracle_dropped = con.execute(
        kept_sql
        + """
        dropped AS (
          SELECT batched.b, date_trunc('day', ts) AS day, event_type
          FROM batched JOIN wmk USING (b)
          WHERE w IS NOT NULL AND end_ms <= w
        )
        SELECT COUNT(*) FROM (SELECT DISTINCT b, day, event_type FROM dropped)
        """
    ).fetchone()[0]
    assert oracle_dropped > 0, "late-drop rule dropped nothing at sf0.01"
    assert spark_dropped == oracle_dropped, (
        f"Spark's numRowsDroppedByWatermark ({spark_dropped}) disagrees "
        f"with the oracle's lagged-watermark model ({oracle_dropped})"
    )
