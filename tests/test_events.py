"""Event analytics: batch hand-checks + stream ≡ batch equivalence for
the windowed aggregation and the applyInPandasWithState sessionizer."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from hipporag_spark import events as ev

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double")


def _min(m):
    return dt.timedelta(minutes=m)


@pytest.fixture(scope="module")
def batch_events(spark):
    rows = [
        # user 1, session A: two events 10 min apart
        (0, T0, 1, "view", 1.25),
        (1, T0 + _min(10), 1, "click", 2.50),
        # user 1, session B: 2h later (gap 110 min > 30)
        (2, T0 + _min(120), 1, "view", 4.00),
        (3, T0 + _min(125), 1, "purchase", 10.75),
        # user 2, session C: single event
        (4, T0 + _min(1), 2, "view", 0.10),
    ]
    return _mk(spark, rows)


def test_sessionize_batch(spark, batch_events):
    out = ev.sessionize(batch_events, gap_minutes=30).toPandas()
    out = out.sort_values(["user_id", "session_seq"]).reset_index(drop=True)
    assert len(out) == 3
    a, b, c = out.iloc[0], out.iloc[1], out.iloc[2]
    assert (a["user_id"], a["n_events"], a["total_value"]) == (1, 2, 3.75)
    assert a["session_start"] == T0 and a["session_end"] == T0 + _min(10)
    assert (b["n_events"], b["total_value"]) == (2, 14.75)
    assert (c["user_id"], c["n_events"]) == (2, 1)


def test_windowed_stats_batch(spark, batch_events):
    out = ev.windowed_stats(batch_events, window="10 minutes").toPandas()
    w0 = out[(out["window_start"] == T0) & (out["event_type"] == "view")]
    # events 0 (T0, user1) and 4 (T0+1min, user2) share the first window
    assert len(w0) == 1 and w0.iloc[0]["n_events"] == 2
    assert w0.iloc[0]["sum_value"] == pytest.approx(1.35)


def _run_stream(spark, src_dir, ckpt, make_query, name):
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        make_query(stream)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .queryName(name)
        .start()
    )
    q.awaitTermination(timeout=300)
    return spark.table(name)


def test_windowed_stream_matches_batch(spark, batch_events, tmp_path):
    src = str(tmp_path / "src")
    batch_events.coalesce(1).write.mode("overwrite").parquet(src)
    got = _run_stream(
        spark, src, str(tmp_path / "ck1"),
        lambda s: (ev.windowed_stats(s, window="10 minutes", watermark="1 hour")
                   .writeStream.format("memory").outputMode("complete")),
        "win_stream",
    ).toPandas()
    want = ev.windowed_stats(batch_events, window="10 minutes").toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key + ["n_events", "sum_value", "avg_value"]].equals(
        want[key + ["n_events", "sum_value", "avg_value"]])


def test_sessionize_stream_matches_batch(spark, batch_events, tmp_path):
    # file 1: the real sessions; file 2: far-future sentinel events that
    # close every open session deterministically (the sentinels' own
    # sessions stay open and are excluded from the comparison)
    sentinels = _mk(spark, [
        (100, T0 + dt.timedelta(days=10), 1, "view", 0.01),
        (101, T0 + dt.timedelta(days=10), 2, "view", 0.01),
    ])
    src = str(tmp_path / "src2")
    batch_events.coalesce(1).write.mode("overwrite").parquet(src)
    sentinels.coalesce(1).write.mode("append").parquet(src)

    got = _run_stream(
        spark, src, str(tmp_path / "ck2"),
        lambda s: (ev.sessionize_stream(s, gap_minutes=30, watermark="1 hour")
                   .writeStream.format("memory").outputMode("append")),
        "sess_stream",
    ).toPandas()

    want = (
        ev.sessionize(batch_events.unionByName(sentinels), gap_minutes=30)
        .where(F.col("session_start") < F.lit(T0 + dt.timedelta(days=1)))
        .toPandas()
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"


def test_sessionize_batch_null_values(spark):
    rows = [
        (0, T0, 9, "view", None),
        (1, T0 + _min(5), 9, "click", 2.50),
    ]
    got = ev.sessionize(_mk(spark, rows), gap_minutes=30).toPandas()
    assert len(got) == 1
    assert got["n_events"][0] == 2 and got["total_value"][0] == 2.50


def test_sessionize_stream_null_and_late_events(spark, tmp_path):
    """A NULL value must not crash the micro-batch (it sums as 0, the
    batch semantics), and a cross-batch late event inside the watermark
    folds into the open session — extending its start backwards, never
    rewinding its end."""
    first = _mk(spark, [
        (0, T0, 7, "view", None),          # null value
        (1, T0 + _min(10), 7, "click", 2.0),
    ])
    late = _mk(spark, [
        (2, T0 - _min(5), 7, "view", 1.0),  # late, within watermark
    ])
    sentinel = _mk(spark, [(9, T0 + dt.timedelta(days=10), 7, "view", 0.01)])
    src = str(tmp_path / "src3")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)
    sentinel.coalesce(1).write.mode("append").parquet(src)

    got = _run_stream(
        spark, src, str(tmp_path / "ck3"),
        lambda s: (ev.sessionize_stream(s, gap_minutes=30, watermark="1 hour")
                   .writeStream.format("memory").outputMode("append")),
        "sess_stream_late",
    ).toPandas()
    got = got[got["session_start"] < T0 + dt.timedelta(days=1)]
    assert len(got) == 1
    row = got.iloc[0]
    assert row["session_start"] == T0 - _min(5)   # extended backwards
    assert row["session_end"] == T0 + _min(10)    # never rewound
    assert row["n_events"] == 3 and row["total_value"] == 3.0


def test_sessionize_stream_late_beyond_gap_splits(spark, tmp_path):
    """A cross-batch late event more than a gap BEFORE the open session's
    start must become its own session (the batch semantics), not be
    folded in — folding would pull session_start arbitrarily far back
    and merge two sessions the batch op keeps apart (ADVICE r3 item 4).
    Two such late events within a gap of each other merge together."""
    first = _mk(spark, [
        (0, T0 + _min(120), 7, "view", 1.0),
        (1, T0 + _min(125), 7, "click", 2.0),
    ])
    late = _mk(spark, [
        # 2h before the open session, within the 3h watermark; 5 min apart
        (2, T0, 7, "view", 0.5),
        (3, T0 + _min(5), 7, "view", 0.25),
    ])
    sentinel = _mk(spark, [(9, T0 + dt.timedelta(days=10), 7, "view", 0.01)])
    src = str(tmp_path / "src4")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)
    sentinel.coalesce(1).write.mode("append").parquet(src)

    got = _run_stream(
        spark, src, str(tmp_path / "ck4"),
        lambda s: (ev.sessionize_stream(s, gap_minutes=30, watermark="3 hours")
                   .writeStream.format("memory").outputMode("append")),
        "sess_stream_split",
    ).toPandas()
    got = got[got["session_start"] < T0 + dt.timedelta(days=1)]
    got = got.sort_values("session_start").reset_index(drop=True)
    assert len(got) == 2, got
    early, main = got.iloc[0], got.iloc[1]
    assert early["session_start"] == T0
    assert early["session_end"] == T0 + _min(5)
    assert early["n_events"] == 2 and early["total_value"] == 0.75
    assert main["session_start"] == T0 + _min(120)
    assert main["session_end"] == T0 + _min(125)
    assert main["n_events"] == 2 and main["total_value"] == 3.0


def test_sessionize_stream_multi_interval_late_merge(spark, tmp_path):
    """ADVICE r4 item 3 scenario: a late event more than a gap BEFORE
    the open session must be HELD (not emitted) until the watermark
    seals it, so an even-later in-watermark event that belongs to that
    early interval merges into it — and a late event between two held
    intervals bridges them into one, exactly as batch does.  The old
    single-interval state emitted the early interval immediately and
    then opened a duplicate session."""
    files = [
        _mk(spark, [(0, T0 + _min(120), 7, "view", 1.0),
                    (1, T0 + _min(125), 7, "click", 2.0)]),
        _mk(spark, [(2, T0, 7, "view", 0.5)]),            # pre-gap late
        _mk(spark, [(3, T0 + _min(50), 7, "view", 0.25)]),  # own interval
        _mk(spark, [(4, T0 + _min(25), 7, "view", 0.15)]),  # bridges 2+3
        _mk(spark, [(9, T0 + dt.timedelta(days=10), 7, "view", 0.01)]),
    ]
    src = str(tmp_path / "src5")
    files[0].coalesce(1).write.mode("overwrite").parquet(src)
    for f in files[1:]:
        f.coalesce(1).write.mode("append").parquet(src)

    got = _run_stream(
        spark, src, str(tmp_path / "ck5"),
        lambda s: (ev.sessionize_stream(s, gap_minutes=30, watermark="3 hours")
                   .writeStream.format("memory").outputMode("append")),
        "sess_stream_multi",
    ).toPandas()
    got = got[got["session_start"] < T0 + dt.timedelta(days=1)]

    want = (
        ev.sessionize(
            files[0].unionByName(files[1]).unionByName(files[2])
            .unionByName(files[3]).unionByName(files[4]),
            gap_minutes=30)
        .where(F.col("session_start") < F.lit(T0 + dt.timedelta(days=1)))
        .toPandas()
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    assert got.equals(want), f"\ngot:\n{got}\nwant:\n{want}"
    # the bridged early session is one interval: [T0, T0+50], 3 events
    early = got.iloc[0]
    assert early["session_start"] == T0
    assert early["session_end"] == T0 + _min(50)
    assert early["n_events"] == 3 and early["total_value"] == 0.90


def test_sessionize_stream_state_survives_restart(spark, tmp_path):
    """Held (watermark-unsealed) intervals must survive a full query
    stop/restart through the checkpoint: launch 1 leaves two held
    intervals in state (the open session and a pre-gap late interval)
    and emits nothing; launch 2 delivers only the far-future sentinel,
    which seals both.  Both sessions must be emitted by launch 2 with
    batch-exact bounds.  (A recoverable file sink is required — the
    memory sink refuses checkpoint recovery.)"""
    src = str(tmp_path / "src6")
    ckpt = str(tmp_path / "ck6")
    out = str(tmp_path / "out6")
    f1 = _mk(spark, [(0, T0 + _min(120), 7, "view", 1.0),
                     (1, T0 + _min(125), 7, "click", 2.0)])
    f2 = _mk(spark, [(2, T0, 7, "view", 0.5)])  # pre-gap late, held
    f1.coalesce(1).write.mode("overwrite").parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    def launch():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            ev.sessionize_stream(stream, gap_minutes=30, watermark="3 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)
        return spark.read.schema(ev.SESSION_OUT_SCHEMA).parquet(out)

    got1 = launch().toPandas()
    # nothing sealed yet: the watermark never passed either interval
    assert len(got1) == 0, got1

    sentinel = _mk(spark, [(9, T0 + dt.timedelta(days=10), 7, "view", 0.01)])
    sentinel.coalesce(1).write.mode("append").parquet(src)
    got2 = launch().toPandas()
    got2 = got2[got2["session_start"] < T0 + dt.timedelta(days=1)]
    got2 = got2.sort_values("session_start").reset_index(drop=True)
    assert len(got2) == 2, got2
    early, main = got2.iloc[0], got2.iloc[1]
    assert early["session_start"] == T0 and early["session_end"] == T0
    assert early["n_events"] == 1 and early["total_value"] == 0.5
    assert main["session_start"] == T0 + _min(120)
    assert main["session_end"] == T0 + _min(125)
    assert main["n_events"] == 2 and main["total_value"] == 3.0


def test_sessionize_stream_rejects_foreign_state_format(spark, tmp_path, monkeypatch):
    """A restart whose checkpointed state carries another state format
    tag fails with an error naming both formats, instead of reading the
    fields with the wrong meaning: launch 1 runs under a foreign tag and
    leaves a held interval in state, launch 2 runs under this code's tag
    and meets that state."""
    src = str(tmp_path / "src_fmt")
    ckpt = str(tmp_path / "ck_fmt")
    out = str(tmp_path / "out_fmt")
    _mk(spark, [(0, T0, 7, "view", 1.0)]).coalesce(1).write.parquet(src)

    def launch():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double")
            .parquet(src)
        )
        q = (
            ev.sessionize_stream(stream, gap_minutes=30, watermark="3 hours")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    foreign = "sessionize-intervals/0"
    with monkeypatch.context() as m:
        m.setattr(ev, "_STATE_FORMAT", foreign)
        launch()
    # a second user's event makes launch 2 run a batch; the timeout of
    # user 7's held interval hands the operator its stored state
    _mk(spark, [(1, T0 + dt.timedelta(days=1), 8, "view", 1.0)]).coalesce(1) \
        .write.mode("append").parquet(src)
    with pytest.raises(Exception) as err:
        launch()
    assert foreign in str(err.value) and ev._STATE_FORMAT in str(err.value), err.value


@pytest.mark.parametrize("seed", [7, 1731])
def test_sessionize_stream_randomized_equivalence(spark, tmp_path, seed):
    """Randomized stream ≡ batch: random event times for several users,
    randomly split across three files processed one per micro-batch (so
    events arrive arbitrarily out of order ACROSS batches), with a
    watermark wide enough to admit every event.  The multi-interval
    sessionizer's emitted sessions must equal the batch sessionizer
    row-for-row — merges, bridges, and backward extensions included."""
    import random

    rng = random.Random(seed)
    rows = []
    for eid in range(24):
        user = rng.randint(1, 3)
        ts = T0 + dt.timedelta(minutes=rng.randint(0, 360))
        rows.append((eid, ts, user, "view", rng.randint(0, 400) / 100.0))
    rng.shuffle(rows)
    thirds = [rows[0:8], rows[8:16], rows[16:24]]
    sentinels = [(100 + u, T0 + dt.timedelta(days=10), u, "view", 0.01)
                 for u in (1, 2, 3)]

    src = str(tmp_path / f"src_r{seed}")
    _mk(spark, thirds[0]).coalesce(1).write.mode("overwrite").parquet(src)
    for part in thirds[1:]:
        _mk(spark, part).coalesce(1).write.mode("append").parquet(src)
    _mk(spark, sentinels).coalesce(1).write.mode("append").parquet(src)

    got = _run_stream(
        spark, src, str(tmp_path / f"ck_r{seed}"),
        lambda s: (ev.sessionize_stream(s, gap_minutes=30, watermark="12 hours")
                   .writeStream.format("memory").outputMode("append")),
        f"sess_stream_rand_{seed}",
    ).toPandas()
    got = got[got["session_start"] < T0 + dt.timedelta(days=1)]

    want = (
        ev.sessionize(_mk(spark, rows + sentinels), gap_minutes=30)
        .where(F.col("session_start") < F.lit(T0 + dt.timedelta(days=1)))
        .toPandas()
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    assert got.equals(want), f"seed={seed}\ngot:\n{got}\nwant:\n{want}"
