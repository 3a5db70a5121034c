"""Streaming-vs-batch parity (SURVEY.md §7: streaming variants tested
by file-source parity against the batch result, not the SQL oracle).

With availableNow + a bounded file source, COMPLETE-mode aggregations
process every input exactly once, so results must equal batch exactly.
"""

from __future__ import annotations

import pytest

from mapreduce_in_pthreads_spark.plans.registry import REGISTRY
from mapreduce_in_pthreads_spark.streaming import event_windows as st


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("stream_fn,batch_name,cols,mode", [
    (st.streaming_tumbling_hourly, "tumbling_hourly",
     ["window_start_us", "event_type", "n_events", "sum_value"], "complete"),
    (st.streaming_session_windows, "session_windows_30m",
     ["user_id", "session_start_us", "n_events", "sum_value"], "complete"),
    (st.streaming_sliding_2h_1h, "sliding_2h_1h",
     ["window_start_us", "n_events", "sum_value"], "complete"),
])
def test_stream_batch_parity(spark, sf_dir, stream_fn, batch_name, cols, mode,
                             request):
    name = f"mem_{batch_name}"
    got = st.run_to_memory(spark, stream_fn(spark, sf_dir), name, mode)
    expect = REGISTRY[batch_name].fn(spark, sf_dir)
    assert _rows(got, cols) == _rows(expect, cols)


def test_streaming_dedup_parity(spark, sf_dir):
    got = st.run_to_memory(
        spark, st.streaming_dedup(spark, sf_dir), "mem_dedup", "append")
    batch = REGISTRY["dedup_events_in_window"].fn(spark, sf_dir)
    # streaming dropDuplicates keeps the FIRST SEEN row per key (arrival
    # order, nondeterministic across partitions — same caveat as the
    # reference's arrival-order aggregation, SURVEY.md §2.2); compare the
    # deterministic projection: the deduped KEY SET, not survivor ids.
    key = lambda df: sorted({(r.user_id, r.event_type, r.hour_us)
                             for r in df.collect()})
    assert key(got) == key(batch)


def test_stream_stream_join_parity(spark, sf_dir):
    """Stream-stream interval join == the batch inner join's
    (purchase_id, click_id) pair set. Append mode: inner-join matches
    emit as soon as both sides arrive; with availableNow the bounded
    source drains fully, so the pair set is complete."""
    from pyspark.sql import functions as F
    from mapreduce_in_pthreads_spark.sources.tables import load_table
    got = st.run_to_memory(
        spark, st.streaming_purchase_click_join(spark, sf_dir),
        "mem_ssjoin", "append")
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"))
    batch = p.join(
        c, (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")), "inner"
    ).select("purchase_id", "click_id")
    pairs = lambda df: sorted((r.purchase_id, r.click_id)
                              for r in df.collect())
    assert pairs(got) == pairs(batch)


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed stream over an unchanged bounded
    source must process NOTHING new (exactly-once via the checkpoint
    WAL) — the recovery contract a production pipeline relies on."""
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        q = (st.streaming_tumbling_hourly(spark, sf_dir)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # same source files: WAL says all committed, no new work
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 and n1 > 0


def test_dedup_within_watermark_collapses_duplicates(spark, sf_dir):
    """A doubled source (union of two reads) must come back exactly-
    once: one row per event_id, payload identical to the batch table."""
    got = st.run_to_memory(
        spark, st.streaming_dedup_within_watermark(spark, sf_dir),
        "mem_dedup_wm", "append")
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.sources.tables import load_table

    # load_table normalizes ts to a session-zone timestamp whichever
    # parquet flavor (NANOS-as-bigint or MICROS) the data shipped as
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type",
                  F.unix_micros("ts").alias("ts_us")))
    got_rows = sorted((r.event_id, r.user_id, r.event_type, r.ts_us)
                      for r in got.collect())
    exp_rows = sorted((r.event_id, r.user_id, r.event_type, r.ts_us)
                      for r in ev.collect())
    assert got_rows == exp_rows


def test_foreach_batch_idempotent_sink(spark, sf_dir, tmp_path):
    """Replaying a micro-batch must not duplicate output: the sink keys
    writes on batch_id via dynamic partition overwrite."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.functions.numeric import DEC
    from mapreduce_in_pthreads_spark.sources.tables import load_table
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_idempotent_foreach_batch, write_user_totals_batch)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_idempotent_foreach_batch(spark, sf_dir, out, ckpt)

    result = spark.read.parquet(out)
    # replay the first batch verbatim — output must be unchanged
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    before = result.count()
    write_user_totals_batch(ev, 0, out)
    replayed = spark.read.parquet(out)
    assert replayed.count() == before

    # cross-batch totals equal the batch-mode aggregate (per-batch sums
    # are exact 4-dp doubles, so re-summing through decimal is exact)
    stream_totals = (replayed.groupBy("user_id")
                     .agg(F.sum("n_events").alias("n"),
                          F.sum(F.col("sum_value").cast(DEC))
                          .cast("double").alias("s")))
    batch_totals = (ev.groupBy("user_id")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.col("value").cast(DEC))
                         .cast("double").alias("s")))
    assert stream_totals.exceptAll(batch_totals).count() == 0
    assert batch_totals.exceptAll(stream_totals).count() == 0


# Every edge of the reference's corpus layout: a UTF-8 BOM first line,
# CRLF endings, lines that normalize to empty, bytes above 0x7F and a
# file with no trailing newline.
WORDLINE_CORPUS = {
    "file1.txt":
        b"\xef\xbb\xbf\r\nThe\r\nquick\r\n---\r\nfox\r\nJumps\r\n",
    "file2.txt": b"the\ncaf\xe9\n'tis\n\nfox\nlazy\ndog",
    "file3.txt": b"Dog's\r\nday\r\n   \r\nthe\r\nquick\r\nfox\r\n",
    "file4.txt": b"fox\nfox\n\xe9t\xe9\nend\n",
}


def _write_corpus(corpus, files: dict[str, bytes]) -> None:
    corpus.mkdir(exist_ok=True)
    for name, data in files.items():
        (corpus / name).write_bytes(data)


def _report(df) -> list[str]:
    return sorted(f"{r.word}: {r.occurrences}" for r in df.collect())


def _start_index(spark, corpus, name: str, checkpoint):
    from mapreduce_in_pthreads_spark.streaming import wordline_index as wi

    return (wi.streaming_reference_index(spark, str(corpus))
            .writeStream.format("memory")
            .queryName(name).outputMode("complete")
            .option("checkpointLocation", str(checkpoint))
            .start())


def test_wordline_streaming_index_parity(spark, tmp_path):
    """The flagship index built INCREMENTALLY — corpus files arriving
    one per micro-batch — equals the plain-Python spec mirror and the
    batch ``build_index``, string-exact (sort_array pins arrival order
    away, as in batch)."""
    from mapreduce_in_pthreads_spark.cli import build_index

    from .test_cli_and_sinks import _spec_report

    corpus = tmp_path / "corpus"
    _write_corpus(corpus, WORDLINE_CORPUS)
    q = _start_index(spark, corpus, "mem_wordline_index", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
        n_batches = len([p for p in q.recentProgress
                         if p["numInputRows"] > 0])
        got = _report(spark.table("mem_wordline_index"))
    finally:
        q.stop()

    assert n_batches >= 2          # genuinely incremental, not one gulp
    assert got == _spec_report(WORDLINE_CORPUS)
    assert got == _report(build_index(spark, str(corpus)))


def test_streaming_gap_fill_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger batch finishing (foreachBatch)
    equals the batch gap_fill_hourly exactly: the incremental hourly
    aggregation runs as a complete-mode streaming agg, the dense-grid
    + forward-fill finishing re-runs per trigger via the SAME
    gap_fill_finish helper the batch operator calls."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_gap_fill_stream)

    holder: dict = {}
    run_gap_fill_stream(spark, sf_dir, str(tmp_path / "ckpt"), holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "hour_us", "n_events", "avg_value_ffill",
            "is_gap"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["gap_fill_hourly"].fn(spark, sf_dir), cols)
    assert got == want


def test_wordline_stream_picks_up_files_landing_mid_stream(spark, tmp_path):
    """Second wordline micro-batch scenario (SURVEY.md §7 stretch):
    corpus shards LAND WHILE THE QUERY IS RUNNING. The stream starts
    over a directory holding one shard, drains, then two more shards
    are written and the SAME query drains again; the complete-mode
    index equals the batch index over the final corpus. The
    intermediate snapshot proves incremental consumption: it must
    equal the batch index over shard 1 alone."""
    from mapreduce_in_pthreads_spark.cli import build_index

    corpus = tmp_path / "corpus"
    _write_corpus(corpus,
                  {"shard-000.txt": b"the\nquick\nfox\nthe\nlazy\ndog\n"})
    q = _start_index(spark, corpus, "mem_wordline_live", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
        snap1 = _report(spark.table("mem_wordline_live"))
        assert snap1 == _report(build_index(spark, str(corpus)))
        assert len(snap1) == 5

        (corpus / "shard-001.txt").write_text("quick\nbrown\nfox\n")
        (corpus / "shard-002.txt").write_text("dog\ndays\nthe\nend\n")
        q.processAllAvailable()
        snap2 = _report(spark.table("mem_wordline_live"))
    finally:
        q.stop()

    assert snap2 == _report(build_index(spark, str(corpus)))
    assert len(snap2) == 8      # the, quick, fox, lazy, dog, brown, days, end
    assert snap2 != snap1       # the second drain actually changed the index


def test_wordline_stream_reads_shard_landing_before_in_name_order(
        spark, tmp_path):
    """A shard whose name sorts FIRST lands after the stream has read
    another one. The stream must read the new shard, and must not read
    the old one again: the drained index equals the batch index over
    both shards."""
    from mapreduce_in_pthreads_spark.cli import build_index

    corpus = tmp_path / "corpus"
    _write_corpus(corpus, {"shard-001.txt": b"alpha\nbeta\n"})
    q = _start_index(spark, corpus, "mem_wordline_order", tmp_path / "ckpt")
    try:
        q.processAllAvailable()
        (corpus / "shard-000.txt").write_bytes(b"gamma\nalpha\n")
        q.processAllAvailable()
        got = _report(spark.table("mem_wordline_order"))
    finally:
        q.stop()

    assert got == _report(build_index(spark, str(corpus)))
    assert got == ["alpha: (shard-000.txt: 2), (shard-001.txt: 1)",
                   "beta: (shard-001.txt: 2)",
                   "gamma: (shard-000.txt: 1)"]


def test_streaming_event_anomaly_parity(spark, sf_dir, tmp_path):
    """Second instance of the foreachBatch finishing pattern: the
    complete-mode hourly aggregate + per-trigger dense-grid/z-score
    finishing equals batch event_rate_anomaly exactly (shared
    event_rate_anomaly_finish)."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_event_anomaly_stream)

    holder: dict = {}
    run_event_anomaly_stream(spark, sf_dir, str(tmp_path / "ckpt"),
                             holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "hour_us", "n_events", "z", "is_anomaly"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["event_rate_anomaly"].fn(spark, sf_dir), cols)
    assert got == want


def test_streaming_holt_forecast_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger Holt finishing (foreachBatch)
    equals the batch holt_linear_forecast exactly — the daily series
    accumulates as a complete-mode streaming agg, the order-dependent
    fold re-runs per trigger via the SAME holt_finish helper."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_holt_forecast_stream)

    holder: dict = {}
    run_holt_forecast_stream(spark, sf_dir, str(tmp_path / "ckpt"),
                             holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "n_days", "level", "trend",
            "forecast_1", "forecast_3"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["holt_linear_forecast"].fn(spark, sf_dir),
                 cols)
    assert got == want


def test_session_windows_merge_across_triggers(spark, tmp_path):
    """Session MERGE dynamics (the stateful behavior the final-state
    parity test cannot see): two session fragments created in trigger
    1 must MERGE when trigger 2 delivers a gap-bridging event, while a
    fragment strictly more than one gap away stays separate. Final
    snapshot must equal the batch session computation over the full
    landed data — the intermediate snapshot proves the state really
    held two fragments first.

    Boundary pin (discovered writing this test): native
    session_window merges sessions that exactly TOUCH — an event at
    last+gap lands in the SAME session — whereas the batch oracle's
    lag-gap-cumsum convention (`gap >= timeout` starts a new session,
    timeseries.py) would split there. The conventions agree on all
    microsecond-resolution event data (an exact 30:00.000000 gap is
    measure-zero, and the oracle contract has proven parity at every
    SF); this test pins the native behavior so the discrepancy stays
    documented rather than latent. Hence the separate fragment below
    sits at minute 51, not 50."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "events_src"
    os.makedirs(src)

    def shard(path, rows):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] * 60_000_000 for r in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
        })
        pq.write_table(tbl, path)

    # trigger 1: minutes 0 and 51 -> fragments [0,30) and [51,81)
    shard(src / "shard1.parquet", [(1, 0, 7), (2, 51, 7)])

    schema = "event_id bigint, ts timestamp, user_id bigint"
    sessions = (
        spark.readStream.schema(schema).parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                 "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.unix_micros(F.col("w.start")).alias("start_us"),
                F.unix_micros(F.col("w.end")).alias("end_us"),
                "n_events"))
    q = (sessions.writeStream.format("memory")
         .queryName("mem_session_merge").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        snap1 = sorted((r.start_us, r.n_events) for r in
                       spark.table("mem_session_merge").collect())
        assert snap1 == [(0, 1), (51 * 60_000_000, 1)]

        # trigger 2: minute 20 bridges 0 -> 20 (gap 20 < 30, merges)
        # and extends the session to 20+30=50 < 51, so the [51,81)
        # fragment stays its own session
        shard(src / "shard2.parquet", [(3, 20, 7)])
        q.processAllAvailable()
        snap2 = sorted((r.start_us, r.end_us, r.n_events) for r in
                       spark.table("mem_session_merge").collect())
    finally:
        q.stop()

    m = 60_000_000
    assert snap2 == [(0, 50 * m, 2), (51 * m, 81 * m, 1)]

    # parity: the merged streaming state == batch sessions on the full
    # landed data
    batch = (spark.read.schema(schema).parquet(str(src))
             .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                      "user_id")
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select(F.unix_micros(F.col("w.start")).alias("start_us"),
                     F.unix_micros(F.col("w.end")).alias("end_us"),
                     "n_events"))
    assert snap2 == sorted((r.start_us, r.end_us, r.n_events)
                           for r in batch.collect())


def test_streaming_seasonal_mase_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger MASE finishing (foreachBatch)
    equals the batch seasonal_naive_mase exactly — hourly counts
    accumulate as a complete-mode streaming agg, the dense-grid lag-24
    split re-runs per trigger via the SAME mase_finish helper."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_seasonal_mase_stream)

    holder: dict = {}
    run_seasonal_mase_stream(spark, sf_dir, str(tmp_path / "ckpt"),
                             holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "n_train", "n_test",
            "mae_insample", "mae_test", "mase"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["seasonal_naive_mase"].fn(spark, sf_dir),
                 cols)
    assert got == want


def test_streaming_cusum_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger CUSUM finishing (foreachBatch)
    equals the batch cusum_changepoint exactly — hourly counts
    accumulate as a complete-mode streaming agg, the dense-grid
    prefix-sum/running-min scan re-runs per trigger via the SAME
    cusum_finish helper."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_cusum_stream)

    holder: dict = {}
    run_cusum_stream(spark, sf_dir, str(tmp_path / "ckpt"), holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "n_hours", "mu", "sigma",
            "peak_cusum", "peak_hour", "alarm"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["cusum_changepoint"].fn(spark, sf_dir),
                 cols)
    assert got == want


def test_streaming_sliding_dau_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger DAU/WAU finishing (foreachBatch)
    equals the batch sliding_window_dau exactly — the distinct
    (user, day) visit grid accumulates as a complete-mode streaming
    agg, the trailing-7-day expand-to-bucket distinct count re-runs
    per trigger via the SAME dau_finish helper."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_sliding_dau_stream)

    holder: dict = {}
    run_sliding_dau_stream(spark, sf_dir, str(tmp_path / "ckpt"),
                           holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["day", "dau1", "dau7", "stickiness"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["sliding_window_dau"].fn(spark, sf_dir),
                 cols)
    assert got == want


def test_streaming_runs_test_parity(spark, sf_dir, tmp_path):
    """Streaming ingest + per-trigger runs-test finishing
    (foreachBatch) equals the batch runs_test_updown exactly — daily
    counts accumulate as a complete-mode streaming agg, the sign/run
    windows re-run per trigger via the SAME runs_finish helper."""
    from mapreduce_in_pthreads_spark.streaming.foreach_batch import (
        run_runs_test_stream)

    holder: dict = {}
    run_runs_test_stream(spark, sf_dir, str(tmp_path / "ckpt"),
                         holder)
    assert holder.get("n_triggers", 0) >= 1
    cols = ["event_type", "n_moves", "n_up", "n_down", "n_runs", "z"]
    got = sorted(tuple(r[c] for c in cols) for r in holder["rows"])
    want = _rows(REGISTRY["runs_test_updown"].fn(spark, sf_dir), cols)
    assert got == want


def test_wordline_stream_stream_join_parity(spark, tmp_path):
    """Adjacent-word pairs built by the stream-stream SELF-join over
    the corpus (files arriving one per micro-batch, unwatermarked —
    per-file ordinals restart at 1, so an ordinal watermark would drop
    later files' pairs) must equal a plain-Python mirror and the
    identical logical plan in batch, multiset-exact: pairs are
    line-adjacent, both words nonempty, and a dropped line breaks a
    pair."""
    from mapreduce_in_pthreads_spark.streaming import wordline_index as wi

    from .test_cli_and_sinks import _spec_words

    corpus = tmp_path / "corpus"
    _write_corpus(corpus, WORDLINE_CORPUS)
    q = (wi.streaming_adjacent_word_pairs(spark, str(corpus))
         .writeStream.format("memory")
         .queryName("mem_wordline_pairs").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_pairs"))
         .start())
    try:
        q.processAllAvailable()
        got = sorted(map(tuple,
                         spark.table("mem_wordline_pairs").collect()))
    finally:
        q.stop()

    words = _spec_words(WORDLINE_CORPUS)
    want = sorted(
        (f, n, w1, w2)
        for (f, n, w1), (g, m, w2) in zip(words, words[1:])
        if f == g and w1 and w2)
    assert len(want) == 9
    assert got == want
    assert got == sorted(map(tuple, wi.batch_adjacent_word_pairs(
        spark, str(corpus)).collect()))
