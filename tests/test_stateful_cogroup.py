"""applyInPandasWithState sessionization vs its batch-window twin."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stream,
)
from tests.conftest import SF_SMOKE


def test_sessionize_stream_matches_batch(spark, tmp_path):
    in_dir = tmp_path / "events_in"
    in_dir.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", in_dir / "part-0.parquet")

    sessionize_stream(
        spark, str(in_dir), str(tmp_path / "ck"), str(tmp_path / "out")
    )
    streamed = spark.read.parquet(str(tmp_path / "out"))
    batch = sessionize_batch(spark.read.parquet(str(in_dir)))

    key = ["user_id", "session_id", "session_start", "session_end",
           "n_events"]
    assert streamed.count() == batch.count()
    assert (
        streamed.select(*key).exceptAll(batch.select(*key)).count() == 0
    )
    # sanity: sessions split on >30min gaps
    multi = batch.filter(F.col("session_id") > 1).count()
    assert multi > 0  # the synthetic events do contain gaps


def test_sessionize_two_drain_incremental(spark, tmp_path):
    """Incremental correctness across drains (the checkpointed-resume
    pattern): a session left open in drain 1 and extended in drain 2 is
    re-emitted with a grown end; sessions_canonical folds the upsert log so
    the result equals the batch twin over ALL events — no duplicate or
    overlapping sessions survive the read contract."""
    from datetime import datetime

    from clinicaltransformerrelationextraction_spark.streaming.sessionize import (
        sessions_canonical,
    )

    def ev(uid, *hhmm):
        return [
            (uid, datetime(2024, 1, 1, h, m)) for h, m in hhmm
        ]

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    # drain 1: user 1 open session (10:00, 10:05); user 2 open (09:00)
    first = ev(1, (10, 0), (10, 5)) + ev(2, (9, 0))
    spark.createDataFrame(first, ["user_id", "ts"]).write.mode(
        "append"
    ).parquet(in_dir)
    sessionize_stream(spark, in_dir, ckpt, out_dir)

    # drain 2: user 1 extends (10:20) then a NEW session (12:00);
    # user 2 extends (9:10)
    second = ev(1, (10, 20), (12, 0)) + ev(2, (9, 10))
    spark.createDataFrame(second, ["user_id", "ts"]).write.mode(
        "append"
    ).parquet(in_dir)
    sessionize_stream(spark, in_dir, ckpt, out_dir)

    raw = spark.read.parquet(out_dir)
    # the raw append log DOES carry the re-emitted open session
    assert raw.count() > sessionize_batch(
        spark.read.parquet(in_dir)
    ).count()

    got = sessions_canonical(raw)
    want = sessionize_batch(spark.read.parquet(in_dir))
    key = ["user_id", "session_id", "session_start", "session_end",
           "n_events"]
    got_k = got.select(*key).withColumn(
        "session_start", F.col("session_start").cast("long")
    ).withColumn("session_end", F.col("session_end").cast("long"))
    want_k = want.select(*key).withColumn(
        "session_start", F.col("session_start").cast("long")
    ).withColumn("session_end", F.col("session_end").cast("long"))
    assert got_k.count() == want_k.count()
    assert got_k.exceptAll(want_k).count() == 0
    # and no overlapping sessions per user after canonicalization
    rows = sorted(
        got.collect(), key=lambda r: (r.user_id, r.session_start)
    )
    for a, b in zip(rows, rows[1:]):
        if a.user_id == b.user_id:
            assert a.session_end < b.session_start
