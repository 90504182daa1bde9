"""Unit tests for CDC partition-level upsert, the idempotent exactly-once
foreachBatch sink, and the running stateful aggregate —
the crash/replay/cross-batch edges the sf oracle cannot exercise."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_apply_changes_rewrites_only_touched_partitions(spark, tmp_path):
    from etdtransform_spark.sources.parquet import (
        apply_changes_to_family,
        family_path,
        write_family,
    )

    base = str(tmp_path)
    df = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 3.0), (4, 30, 4.0)],
        "id long, p long, v double",
    )
    write_family(df, base, "fam", partition_by=["p"])
    path = family_path(base, "fam")

    def files(part):
        d = os.path.join(path, f"p={part}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet")
        ) if os.path.isdir(d) else None

    untouched_before = files(20)
    changes = spark.createDataFrame(
        [
            (1, 10, "changed", 1.5),   # update in p=10
            (5, 10, "added", 5.0),     # insert into p=10
            (4, 30, "removed", None),  # p=30 becomes empty
        ],
        "id long, p long, status string, new_v double",
    )
    apply_changes_to_family(
        spark, changes, base, "fam", keys=["id"], partition_col="p"
    )
    got = {
        (r["id"], r["p"]): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, 10): 1.5, (2, 10): 2.0, (3, 20): 3.0, (5, 10): 5.0}
    # replay idempotence: re-applying the same change set is a no-op
    # (at-least-once CDC delivery must not duplicate 'added' rows)
    apply_changes_to_family(
        spark, changes, base, "fam", keys=["id"], partition_col="p"
    )
    again = {
        (r["id"], r["p"]): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert again == got
    # untouched partition: same physical files (never read or rewritten)
    assert files(20) == untouched_before
    # fully-emptied partition directory is gone
    assert files(30) is None


def test_exactly_once_sink_replay_and_orphan_recovery(spark, tmp_path):
    import pandas as pd

    from etdtransform_spark.streaming.exactly_once_sink import (
        committed_batches,
        exactly_once_batch_writer,
        read_committed,
    )

    path = str(tmp_path / "sink")
    writer = exactly_once_batch_writer(path)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    writer(b0, 0)
    writer(b1, 1)
    # at-least-once replay of batch 0 must be a no-op
    writer(b0, 0)
    assert committed_batches(path) == {0, 1}
    got = sorted(
        (r["id"], r["v"]) for r in read_committed(spark, path).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # crash between data-rename and commit: orphan batch dir, no commit file
    orphan = spark.createDataFrame([(9, "x")], "id long, v string")
    orphan.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    # reader must not see the uncommitted orphan
    assert sorted(
        (r["id"], r["v"]) for r in read_committed(spark, path).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]
    # replay of the batch overwrites the orphan and commits it
    writer(orphan, 2)
    assert committed_batches(path) == {0, 1, 2}
    assert (9, "x") in {
        (r["id"], r["v"]) for r in read_committed(spark, path).collect()
    }


def test_streaming_running_agg_across_batches(spark, tmp_path):
    """State must carry across micro-batches: stage two files, force one
    file per trigger, verify the LAST emission per key equals the global
    aggregate and that intermediate emissions are running (not per-batch)
    totals."""
    import uuid

    from etdtransform_spark.streaming.stateful_agg import streaming_running_agg

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    spark.createDataFrame(
        [(1, 30.0), (2, 1.0)], "user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/f2")
    # one directory with both files
    import shutil

    merged = str(tmp_path / "merged")
    os.makedirs(merged)
    n = 0
    for sub in ("f1", "f2"):
        for f in os.listdir(src + f"/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{src}/{sub}/{f}", f"{merged}/part{n}.parquet")
                n += 1
    assert n == 2

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(merged)
    )
    out = streaming_running_agg(stream, "user_id", "value")
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table(name).collect()
    # two batches -> up to two emissions per key; the totals must be
    # RUNNING: final per-key values equal the global aggregate
    per_key = {}
    for r in rows:
        per_key.setdefault(r["key"], []).append((r["n"], r["sum_value"]))
    finals = {k: max(v) for k, v in per_key.items()}  # n is monotone
    assert finals[1] == (3, 60.0)
    assert finals[2] == (2, 6.0)
    # at least one key must have emitted twice (proves multi-batch run)
    assert any(len(v) == 2 for v in per_key.values())


def test_update_meenemen_precedence(spark):
    """correction > validator recompute > existing flag; fail closed."""
    from etdtransform_spark.sources.parquet import update_meenemen

    idx = spark.createDataFrame(
        [
            # (huis, existing, v1, v2)
            (1, True, True, True),     # passes validators
            (2, True, False, False),   # fails validators -> recompute False
            (3, False, True, True),    # passes -> recompute True
            (4, True, None, True),     # null validator counts as fail at 2
            (5, None, None, None),     # nothing known -> False
        ],
        "HuisIdBSV long, Meenemen boolean, validate_a boolean, validate_b boolean",
    )
    fixes = spark.createDataFrame(
        [(2, True), (3, False)], "HuisIdBSV long, Meenemen boolean"
    )

    # existing flag only (no recompute, no corrections): nulls fail closed
    plain = {r["HuisIdBSV"]: r["Meenemen"]
             for r in update_meenemen(idx).collect()}
    assert plain == {1: True, 2: True, 3: False, 4: True, 5: False}

    # validator recompute at >= 2 passes
    rec = {r["HuisIdBSV"]: r["Meenemen"]
           for r in update_meenemen(idx, min_validators_true=2).collect()}
    assert rec == {1: True, 2: False, 3: True, 4: False, 5: False}

    # corrections override the recompute where present
    both = {r["HuisIdBSV"]: r["Meenemen"]
            for r in update_meenemen(
                idx, corrections=fixes, min_validators_true=2
            ).collect()}
    assert both == {1: True, 2: True, 3: False, 4: False, 5: False}


def test_streaming_resample_drops_data_later_than_watermark(spark, tmp_path):
    """Append-mode finalization contract: a bucket emits EXACTLY ONCE when
    the watermark passes its end, and a row arriving after that
    finalization is dropped (no duplicate emission, no resurrected
    state). Late rows arriving while the bucket is still open DO land in
    it — eviction lags one batch, which is why the truly-late row needs
    its own third batch here."""
    import os
    import shutil
    import time
    import uuid

    import datetime as dt

    from etdtransform_spark.streaming.resample_stream import streaming_resample

    def ts(m):
        return dt.datetime(2024, 1, 1, 10, m)

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        # fills the 10:15 bucket (15min min_count=3 -> sum 3.0) and sets
        # max event time 11:00 -> watermark 10:50
        [(1, ts(16), 1.0), (2, ts(20), 1.0), (6, ts(25), 1.0),
         (3, dt.datetime(2024, 1, 1, 11, 0), 1.0)],
        # watermark passes 10:30 -> the 10:15 bucket finalizes + evicts
        [(5, dt.datetime(2024, 1, 1, 11, 5), 1.0)],
        # a 10:20 row AFTER finalization: must be dropped
        [(4, ts(20), 100.0), (7, dt.datetime(2024, 1, 1, 11, 10), 1.0)],
    ]
    n = 0
    for bi, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "HuisIdBSV long, ReadingDate timestamp, v double"
        ).coalesce(1).write.parquet(src + f"/b{bi}")
        for f in sorted(os.listdir(f"{src}/b{bi}")):
            if f.endswith(".parquet"):
                dest = f"{src}/part{n}.parquet"
                shutil.copy(f"{src}/b{bi}/{f}", dest)
                # file source processes oldest-mtime first
                t = time.time() - 90 + bi * 30
                os.utime(dest, (t, t))
                n += 1
        shutil.rmtree(f"{src}/b{bi}")
    assert n == 3

    stream = (
        spark.readStream.schema("HuisIdBSV long, ReadingDate timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = streaming_resample(
        stream, "15min", group_cols=[], variables={"v": "sum"},
        watermark="10 minutes",
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table(name).collect()
    # exactly one emission, with the pre-finalization sum: the late 100.0
    # neither re-emitted the bucket nor changed its value
    assert [(r["ReadingDate"].strftime("%H:%M"), r["v"]) for r in rows] == [
        ("10:15", 3.0)
    ]


def test_streaming_resample_5min_passes_rows_through_like_batch(spark, tmp_path):
    """At 5min the stream is the batch pass-through: a duplicated
    timestamp keeps both rows instead of summing them."""
    import datetime as dt
    import uuid

    from etdtransform_spark.operators.resample import resample
    from etdtransform_spark.streaming.resample_stream import streaming_resample

    schema = "HuisIdBSV long, ProjectIdBSV long, ReadingDate timestamp, v double"
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    df = spark.createDataFrame(
        [(1, 1, t0, 1.0), (1, 1, t0, 2.0),
         (1, 1, t0 + dt.timedelta(minutes=5), 4.0)],
        schema,
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"r5_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_resample(stream, "5min", variables={"v": "sum"})
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table(name).collect()))
    want = sorted(map(tuple, resample(df, "5min", variables={"v": "sum"}).collect()))
    assert len(want) == 3
    assert got == want


def test_versioned_family_publish_history_and_prune(spark, tmp_path):
    """Versioned sinks: atomic publish flips _LATEST; historical versions
    stay byte-stable and readable; pruning respects retention and never
    drops the published latest; snapshot_diff composes across versions."""
    from etdtransform_spark.operators.temporal import snapshot_diff
    from etdtransform_spark.sources.parquet import (
        list_family_versions,
        prune_family_versions,
        read_family_version,
        write_family_version,
    )

    base = str(tmp_path)
    v1_df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"])
    v2_df = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], ["id", "val"])

    v1 = write_family_version(v1_df, base, "corpus")
    v2 = write_family_version(v2_df, base, "corpus")
    assert (v1, v2) == (1, 2)
    assert list_family_versions(base, "corpus") == [1, 2]

    latest = read_family_version(spark, base, "corpus")
    assert {tuple(r) for r in latest.collect()} == {(1, "a"), (2, "B"), (3, "c")}
    old = read_family_version(spark, base, "corpus", version=1)
    assert {tuple(r) for r in old.collect()} == {(1, "a"), (2, "b")}

    # train-on-Tuesday's-snapshot reproducibility: the diff across versions
    diff = snapshot_diff(old, latest, keys=["id"], compare_cols=["val"])
    statuses = {r.id: r.status for r in diff.collect()}
    assert statuses == {2: "changed", 3: "added"}

    v3 = write_family_version(v1_df, base, "corpus")
    dropped = prune_family_versions(base, "corpus", keep_last=2)
    assert dropped == [1]
    assert list_family_versions(base, "corpus") == [2, 3]
    # latest pointer survives pruning and still resolves
    assert read_family_version(spark, base, "corpus").count() == 2
