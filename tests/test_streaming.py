"""Streaming layer: availableNow drains, micro-batch caps, windowed aggs
with watermarks, within-watermark dedup, and foreachBatch ledger commits.

File-source + memory-sink keeps everything hermetic and synchronous
(availableNow drains and terminates)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from instagram_data_pipeline_spark.io import Warehouse, load_testdata
from instagram_data_pipeline_spark.schemas import EVENTS, REFERENCE_TABLES
from instagram_data_pipeline_spark.streaming.events import (
    dedup_within_watermark,
    run_available_now,
    session_windows,
    stream_from_parquet,
    tumbling_counts,
)
from instagram_data_pipeline_spark.streaming.ledger import LedgerProgressSink


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-landed as a 4-file parquet dir (a file per micro-batch)."""
    out = str(tmp_path_factory.mktemp("events_src"))
    load_testdata(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def _drain(spark, df, tmp_path_factory, name=None, output_mode="append"):
    qname = name or f"q_{uuid.uuid4().hex[:8]}"
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    run_available_now(df, qname, ckpt, output_mode=output_mode)
    return spark.table(qname)


def test_stream_batch_parity_tumbling(spark, sf_dir, events_dir, tmp_path_factory):
    stream = stream_from_parquet(spark, events_dir)
    # complete mode: append would withhold windows still inside the
    # watermark horizon at end-of-input (they'd emit on the next batch)
    got = _drain(spark, tumbling_counts(stream), tmp_path_factory,
                 output_mode="complete")
    batch = tumbling_counts(load_testdata(spark, sf_dir, "events"))
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b  # one definition, two execution modes, same result


def test_max_files_per_trigger_caps_batches(spark, events_dir, tmp_path_factory):
    stream = stream_from_parquet(spark, events_dir, max_files_per_trigger=1)
    epochs = []

    def count_epochs(batch_df, epoch_id):
        epochs.append((epoch_id, batch_df.count()))

    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = (
        stream.writeStream.foreachBatch(count_epochs)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([e for e, n in epochs if n > 0]) == 4  # one per file (T3 cap)
    assert sum(n for _, n in epochs) == 1000


def test_session_windows_streaming(spark, events_dir, tmp_path_factory):
    stream = stream_from_parquet(spark, events_dir)
    got = _drain(spark, session_windows(stream, gap="30 minutes"),
                 tmp_path_factory, output_mode="complete")
    rows = got.collect()
    assert rows, "session windows should emit after watermark passes"
    for r in rows:
        assert r.session_end > r.session_start and r.n_events >= 1


def test_dedup_within_watermark(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("dups_src"))
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (1, base, 7, "click", 1.0, None),
        (2, base + dt.timedelta(minutes=1), 7, "view", 1.0, None),
        (1, base + dt.timedelta(minutes=2), 7, "click", 1.0, None),  # dup id
        (3, base + dt.timedelta(minutes=3), 8, "click", 1.0, None),
    ]
    spark.createDataFrame(rows, EVENTS).write.mode("overwrite").parquet(src)
    stream = stream_from_parquet(spark, src)
    got = _drain(spark, dedup_within_watermark(stream), tmp_path_factory)
    ids = sorted(r.event_id for r in got.collect())
    assert ids == [1, 2, 3]


def test_processing_time_trigger(spark, events_dir, tmp_path_factory):
    """T1's periodic form: a processingTime-triggered query drains the
    source and keeps running until stopped (the reference's 30-min tick,
    compressed)."""
    stream = stream_from_parquet(spark, events_dir)
    qname = f"q_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ckpt")))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.table(qname).count()
        assert n > 0
        assert q.isActive  # periodic trigger keeps the query alive
    finally:
        q.stop()


def test_foreachbatch_ledger_progress(spark, events_dir, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.ensure_tables({**REFERENCE_TABLES, "events_landed": EVENTS})
    from instagram_data_pipeline_spark.schemas import SCRAPE_JOBS

    wh.overwrite_atomic(
        "scrape_jobs",
        spark.createDataFrame(
            [(1, "ingest", "followers", "pending", None, None, None, None, 0, None)],
            SCRAPE_JOBS,
        ),
    )
    sink = LedgerProgressSink(wh, "events_landed", job_id=1,
                              now=dt.datetime(2024, 3, 1))
    stream = stream_from_parquet(spark, events_dir, max_files_per_trigger=2)
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink.complete()
    assert wh.read("events_landed").count() == 1000
    job = wh.read("scrape_jobs").collect()[0]
    assert job.status == "completed"
    assert job.processed_items == 1000 and job.total_items == 1000
    assert job.completed_at is not None
    assert len(sink.epochs) >= 2  # 4 files / maxFilesPerTrigger=2


def test_ledger_sink_replayed_epoch_is_noop(spark, tmp_path_factory):
    """foreachBatch is at-least-once: a replayed (batch_df, epoch_id) must
    not double-append rows or double-advance processed_items."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.ensure_tables({**REFERENCE_TABLES, "events_landed": EVENTS})
    from instagram_data_pipeline_spark.schemas import SCRAPE_JOBS

    wh.overwrite_atomic(
        "scrape_jobs",
        spark.createDataFrame(
            [(1, "ingest", "followers", "pending", None, None, None, None, 0, None)],
            SCRAPE_JOBS,
        ),
    )
    sink = LedgerProgressSink(wh, "events_landed", job_id=1,
                              now=dt.datetime(2024, 3, 1))
    batch = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 1), 10, "view", 1.0, None)], EVENTS
    )
    sink(batch, epoch_id=0)
    sink(batch, epoch_id=0)  # replay of the same epoch: must be a no-op
    sink(batch, epoch_id=1)
    assert wh.read("events_landed").count() == 2
    assert wh.read("scrape_jobs").collect()[0].processed_items == 2


def test_continuous_rollup_matches_batch_and_fences_replay(
    spark, events_dir, sf_dir, tmp_path_factory
):
    """The incrementally-maintained rollup tables must equal the one-shot
    batch aggregate over all data, and a replayed epoch must not
    double-count."""
    from instagram_data_pipeline_spark.io import load_testdata
    from instagram_data_pipeline_spark.streaming.rollup import (
        ContinuousRollupSink,
        rollup_increment,
    )

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    sink = ContinuousRollupSink(wh)
    stream = stream_from_parquet(spark, events_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(sink.epochs) >= 4  # one epoch per landed file

    events = load_testdata(spark, sf_dir, "events")
    for grain in ("hour", "day"):
        want = sorted(
            map(tuple, rollup_increment(events, grain).collect())
        )
        got = sorted(map(tuple, sink.read(grain).collect()))
        assert got == want, f"{grain} rollup != batch aggregate"

    # merges are bucket-scoped: a one-event batch rewrites one key
    # bucket, and every file of the other buckets is carried into the
    # new version by reference
    day = sink.table("day")
    files_before = wh.fmt._latest(wh, day)["files"]
    sink(events.orderBy("event_id").limit(1), max(sink.epochs) + 1)
    files_after = wh.fmt._latest(wh, day)["files"]
    touched = {b for f, b in files_after.items() if f not in files_before}
    assert len(touched) == 1
    untouched = {f: b for f, b in files_before.items() if b not in touched}
    assert untouched, "rollup rows must spread over several buckets"
    assert all(files_after.get(f) == b for f, b in untouched.items())
    assert not any(
        f in files_after for f, b in files_before.items() if b in touched
    )

    # replay the last epoch: additive merge MUST be fenced
    last = max(sink.epochs)
    before = sorted(map(tuple, sink.read("day").collect()))
    sink(events.limit(50), last)
    after = sorted(map(tuple, sink.read("day").collect()))
    assert after == before

    # a failing epoch must NOT be fenced (retry re-runs, no silent loss)
    class Boom(Exception):
        pass

    failing = max(sink.epochs) + 1

    orig = sink._merge_grain
    calls = {"n": 0}

    def explode(batch, grain):
        calls["n"] += 1
        raise Boom()

    sink._merge_grain = explode
    import pytest as _pytest

    with _pytest.raises(Boom):
        sink(events.limit(10), failing)
    assert failing not in sink.epochs
    sink._merge_grain = orig
    sink(events.limit(10), failing)  # retry succeeds and fences
    assert failing in sink.epochs


def test_continuous_rollup_publish_crash_is_atomic(
    spark, sf_dir, tmp_path, dying_publish
):
    """A crash between a grain's data-file write and its manifest
    publish raises out of the sink, leaves every rollup table as it
    was and the epoch unfenced; the retried epoch lands exactly once."""
    from instagram_data_pipeline_spark.io import load_testdata
    from instagram_data_pipeline_spark.streaming.rollup import (
        ContinuousRollupSink,
        rollup_increment,
    )

    events = load_testdata(spark, sf_dir, "events")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=dying_publish)
    sink = ContinuousRollupSink(wh)
    sink(first, 0)

    def state():
        return {g: sorted(map(tuple, sink.read(g).collect()))
                for g in sink.grains}

    before = state()
    dying_publish.armed = True
    with pytest.raises(OSError, match="simulated crash"):
        sink(second, 1)
    assert state() == before
    assert 1 not in sink.epochs
    sink(second, 1)  # the retry commits and fences
    assert 1 in sink.epochs
    for grain in sink.grains:
        want = sorted(map(tuple, rollup_increment(events, grain).collect()))
        assert sorted(map(tuple, sink.read(grain).collect())) == want


def test_stream_stream_interval_join_matches_batch(
    spark, events_dir, sf_dir, tmp_path_factory
):
    """Stream-stream interval join (click->purchase candidates within 1h)
    drained via availableNow must equal the equivalent batch join."""
    from instagram_data_pipeline_spark.streaming.events import (
        interval_join_attribution,
    )

    s = stream_from_parquet(spark, events_dir)
    clicks_s = s.filter(F.col("event_type") == "click")
    purchases_s = s.filter(F.col("event_type") == "purchase")
    got = _drain(
        spark,
        interval_join_attribution(clicks_s, purchases_s),
        tmp_path_factory,
    )

    events = load_testdata(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
    ).select("p_user", "purchase_id", "click_id")
    a = sorted((r.user_id, r.purchase_id, r.click_id) for r in got.collect())
    b = sorted((r.p_user, r.purchase_id, r.click_id) for r in want.collect())
    assert a and a == b


def test_stream_dedup_across_batches(spark, tmp_path):
    """Redelivered copies arriving in LATER micro-batches still collapse
    (state keyed within the watermark horizon)."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.io import load_testdata
    from instagram_data_pipeline_spark.streaming.dedup import dedup_stream
    from instagram_data_pipeline_spark.streaming.events import (
        run_available_now,
        stream_from_parquet,
    )

    events = load_testdata(spark, "/root/testdata/sf0.001", "events").limit(500)
    src = str(tmp_path / "src")
    # two landings = distinct file sets; maxFilesPerTrigger forces the
    # copies into separate micro-batches
    events.coalesce(1).write.mode("append").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)
    deduped = dedup_stream(
        stream_from_parquet(spark, src, max_files_per_trigger=1),
        delay="90 days",  # horizon covers the whole synthetic span
    )
    run_available_now(deduped, "stream_dedup_batches", str(tmp_path / "ckpt"))
    got = spark.table("stream_dedup_batches").count()
    assert got == events.select("event_id").distinct().count()


def test_neardup_sink_sequential_batches_and_replay(spark, tmp_path):
    """NearDupIndexSink: batch 2 drops near-dups of batch 1's kept docs,
    intra-batch dups drop against lower ids, and replaying a batch
    (foreachBatch at-least-once) overwrites to identical output."""
    from instagram_data_pipeline_spark.streaming.neardup import (
        NearDupIndexSink,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing outside"
    )
    other = (
        "completely different content about distributed query engines "
        "and columnar storage formats with vectorized execution"
    )
    third = (
        "a third unrelated passage describing watermark semantics and "
        "stateful stream processing with bounded state stores"
    )
    sink = NearDupIndexSink(str(tmp_path / "idx"), threshold=0.5)
    b0 = spark.createDataFrame(
        [(1, base), (2, other), (3, base + " extra")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(10, base), (11, third)], "doc_id long, text string"
    )
    sink.process_batch(b0, 0)
    sink.process_batch(b1, 1)
    dec = {
        r.doc_id: r.decision
        for r in sink.results(spark, "decisions").collect()
    }
    # intra-batch: 3 near-matches lower-id 1 -> dropped; cross-batch:
    # 10 matches kept doc 1 -> dropped; 11 novel -> kept
    assert dec == {1: "keep", 2: "keep", 3: "drop", 10: "drop", 11: "keep"}
    kept_ids = sorted(
        r.doc_id for r in sink.results(spark, "kept").collect()
    )
    assert kept_ids == [1, 2, 11]
    # replay batch 1: decisions recomputed against index batches < 1
    # only -> identical output, no self-matching, no duplication
    sink.process_batch(b1, 1)
    dec2 = {
        r.doc_id: r.decision
        for r in sink.results(spark, "decisions").collect()
    }
    assert dec2 == dec
    assert sorted(
        r.doc_id for r in sink.results(spark, "kept").collect()
    ) == [1, 2, 11]


def test_neardup_sink_through_foreachbatch_stream(spark, tmp_path):
    """The real writeStream.foreachBatch path: land files, drain
    availableNow, land more, drain again — the checkpoint carries batch
    ids forward so the second drain continues the index."""
    from instagram_data_pipeline_spark.streaming.neardup import (
        NearDupIndexSink,
    )

    schema = "doc_id long, text string"
    base = (
        "shared boilerplate paragraph that every landed page repeats "
        "about cookies and javascript and terms of service agreements"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = NearDupIndexSink(str(tmp_path / "idx"), threshold=0.5)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(src)
        sink.run_available_now(stream, ckpt)

    land([(1, base), (2, "unique first wave content about parquet files")])
    drain()
    land([(3, base), (4, "novel second wave content about shuffles")])
    drain()
    dec = {
        r.doc_id: r.decision
        for r in sink.results(spark, "decisions").collect()
    }
    assert dec == {1: "keep", 2: "keep", 3: "drop", 4: "keep"}


def test_ivf_index_sink_streamed_equals_batch_rebuild(spark, tmp_path, sf_dir):
    """Embeddings arriving across micro-batches build the same index a
    one-shot rebuild does, probes work off the merged index, replay is
    idempotent, and drift stats accumulate per batch."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.extensions.similarity import (
        ivf_index_build,
    )
    from instagram_data_pipeline_spark.io import load_testdata
    from instagram_data_pipeline_spark.queries import load_all
    from instagram_data_pipeline_spark.streaming.annindex import IvfIndexSink

    emb = load_testdata(spark, sf_dir, "embeddings")
    cents = (
        load_all()["label_centroids"].spark_fn(spark, sf_dir)
        .groupBy(F.col("label").alias("cluster"))
        .agg(F.array_sort(
            F.collect_list(F.struct("pos", F.col("centroid").alias("v")))
        ).alias("pv"))
        .select("cluster", F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    sink = IvfIndexSink(str(tmp_path / "ivf"), cents)
    # stream in two waves via the real foreachBatch path
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    corpus.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append").parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    sink.run_available_now(stream, ckpt)
    corpus.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append").parquet(src)
    sink.run_available_now(
        spark.readStream.schema(corpus.schema).parquet(src), ckpt
    )
    streamed = sorted(
        (r.cluster, r.vec_id) for r in sink.index(spark).collect()
    )
    rebuilt = sorted(
        (r.cluster, r.vec_id)
        for r in ivf_index_build(corpus, cents).collect()
    )
    assert streamed == rebuilt and len(streamed) == corpus.count()
    # replaying a batch id overwrites its partition, no duplication
    sink.process_batch(corpus.filter(F.col("vec_id") % 2 == 0), 0)
    assert sorted(
        (r.cluster, r.vec_id) for r in sink.index(spark).collect()
    ) == rebuilt
    # drift stats: one batch dimension, totals match corpus size
    stats = sink.drift_stats(spark)
    assert stats.agg(F.sum("n_assigned")).collect()[0][0] == corpus.count()
    assert stats.select("batch").distinct().count() == 2
    # probing the streamed index returns k results per query
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sink.topk(spark, queries, k=5, n_probe=2).collect()
    assert len(got) == 15


def test_token_bucket_gate_stream_equals_batch_replay(spark, tmp_path, sf_dir):
    """The stateful streaming token bucket, drained over two time-split
    landings, reproduces the batch replay operator decision-for-decision
    (state carries tokens/last_ts across micro-batches)."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.io import load_testdata
    from instagram_data_pipeline_spark.operators.ratelimit import (
        token_bucket_admission,
    )
    from instagram_data_pipeline_spark.streaming.stateful import (
        token_bucket_gate,
    )

    events = load_testdata(spark, sf_dir, "events").limit(2000)
    reqs = events.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") / F.lit(3600000000)).cast("long").alias("ts_s"),
    ).localCheckpoint()
    cut = reqs.approxQuantile("ts_s", [0.5], 0.0)[0]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    params = dict(rate=1, capacity=48, cost=24)

    out = str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts_s long"
        ).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("overwrite").parquet(
                f"{out}/batch={batch_id}"
            )

        q = (
            token_bucket_gate(stream, **params)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    reqs.filter(F.col("ts_s") <= cut).coalesce(1).write.mode(
        "append").parquet(src)
    drain()
    reqs.filter(F.col("ts_s") > cut).coalesce(1).write.mode(
        "append").parquet(src)
    drain()
    streamed = {
        r.event_id: (r.tokens_after, r.admitted)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.event_id: (r.tokens_after, r.admitted)
        for r in token_bucket_admission(
            reqs, "user_id", "ts_s", "event_id", **params
        ).collect()
    }
    assert streamed == batch and len(streamed) == reqs.count()
    # both decision classes show up (the gate genuinely limits)
    assert {a for _, a in streamed.values()} == {True, False}


def test_token_bucket_gate_late_event_cannot_rewind_clock(spark, tmp_path):
    """An out-of-order event landing in a LATER micro-batch must not
    move last_ts backward — otherwise the next on-time event re-counts
    the elapsed span and over-refills (ADVICE r5). The late event is
    admitted against the current bucket with zero refill."""
    from instagram_data_pipeline_spark.streaming.stateful import (
        token_bucket_gate,
    )

    src, ckpt, out = (str(tmp_path / p) for p in ("s", "c", "o"))

    def drain(bid_dir):
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts_s long"
        ).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        q = (
            token_bucket_gate(stream, rate=1, capacity=100, cost=60)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    b1 = spark.createDataFrame(
        [(1, 1, 1000), (1, 2, 1050)], "user_id long, event_id long, ts_s long"
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    drain(1)
    # batch 2: event 3 is LATE (ts 900 < stored last_ts 1050)
    b2 = spark.createDataFrame(
        [(1, 3, 900), (1, 4, 1080)], "user_id long, event_id long, ts_s long"
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    drain(2)
    got = {
        r.event_id: (r.tokens_after, r.admitted)
        for r in spark.read.parquet(out).collect()
    }
    # e1: full bucket 100 -> admit, 40. e2: +50 refill -> 90 -> admit, 30.
    assert got[1] == (40, True) and got[2] == (30, True)
    # e3 (late): zero refill, 30 < 60 -> rejected, clock NOT rewound.
    assert got[3] == (30, False)
    # e4: refill only 1080-1050=30 -> 60 -> admit, 0. A rewound clock
    # would have refilled 180 and left 40 here.
    assert got[4] == (0, True)


def test_transition_pairs_boundary_across_batches(spark, tmp_path):
    """The state-carried previous event produces the boundary pair
    between micro-batches; the drained pair multiset equals the batch
    LEAD sequence."""
    from instagram_data_pipeline_spark.streaming.transitions import (
        transition_pairs,
    )

    src, ckpt, out = (str(tmp_path / p) for p in ("s", "c", "o"))

    def drain():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts_us long, event_type string"
        ).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        q = (
            transition_pairs(stream)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    schema = "user_id long, event_id long, ts_us long, event_type string"
    b1 = spark.createDataFrame(
        [(1, 1, 10, "view"), (1, 2, 20, "click"), (2, 3, 15, "view")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(1, 4, 30, "purchase"), (2, 5, 25, "click"), (3, 6, 40, "view")],
        schema,
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = sorted(
        (r.user_id, r.cur, r.nxt)
        for r in spark.read.parquet(out).collect()
    )
    # user 1: view->click (batch 1), click->purchase (BOUNDARY);
    # user 2: view->click (boundary); user 3: single event, no pair
    assert got == [
        (1, "click", "purchase"),
        (1, "view", "click"),
        (2, "view", "click"),
    ]


def test_token_bucket_gate_string_domain_keys(spark, tmp_path):
    """The generalized gate (key_col/key_type) reproduces the batch
    fold for STRING domain keys — the online crawl-politeness form."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.operators.ratelimit import (
        token_bucket_admission,
    )
    from instagram_data_pipeline_spark.streaming.stateful import (
        token_bucket_gate,
    )

    rows = [
        (f"site{i % 3}.com", i, t)
        for i, t in enumerate([0, 0, 1, 2, 2, 3, 10, 10, 11, 30, 31, 31])
    ]
    reqs = spark.createDataFrame(
        rows, "domain string, event_id long, ts_s long"
    )
    src, ckpt, out = (str(tmp_path / p) for p in ("s", "c", "o"))
    params = dict(rate=1, capacity=3, cost=1)

    def drain():
        stream = spark.readStream.schema(
            "domain string, event_id long, ts_s long"
        ).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

        q = (
            token_bucket_gate(
                stream, key_col="domain", key_type="string", **params
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    reqs.filter(F.col("ts_s") <= 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    reqs.filter(F.col("ts_s") > 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    streamed = {
        r.event_id: (r.domain, r.tokens_after, r.admitted)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.event_id: (r.domain, r.tokens_after, r.admitted)
        for r in token_bucket_admission(
            reqs, "domain", "ts_s", "event_id", **params
        ).collect()
    }
    assert streamed == batch and len(streamed) == len(rows)


def test_quality_monitor_drift_alert_and_replay(spark, tmp_path):
    """The streaming quality monitor: a batch matching the reference
    stays quiet, a shifted batch alerts (integer-exact cross-multiplied
    L1), and a replayed epoch overwrites instead of duplicating."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.streaming.monitor import (
        QualityMonitorSink,
    )

    ref_df = spark.range(0, 1000).select(
        (F.pmod(F.col("id"), 10) / 10.0 + 0.05).alias("value")
    )  # uniform over the 10 bins
    reference = QualityMonitorSink.batch_histogram(
        ref_df, "value", 0.0, 1.0, 10
    )
    assert sum(reference.values()) == 1000 and len(reference) == 10

    sink = QualityMonitorSink(
        str(tmp_path / "mon"), reference, lo=0.0, hi=1.0, n_bins=10,
        alert_l1_ppm=200_000,
    )
    same = spark.range(0, 500).select(
        (F.pmod(F.col("id"), 10) / 10.0 + 0.05).alias("value")
    )
    shifted = spark.range(0, 500).select(
        (F.pmod(F.col("id"), 2) / 10.0 + 0.05).alias("value")
    )  # mass collapsed into bins 0-1
    sink.process_batch(same, 0)
    sink.process_batch(shifted, 1)
    got = {r.epoch: r for r in sink.results(spark).collect()}
    assert not got[0].alert and got[0].l1_ppm == 0
    assert got[1].alert and got[1].l1_ppm > 500_000
    assert got[1].n_rows == 500
    # exact integer L1 for the shifted batch (L1 ranges [0, 2] so ppm
    # can exceed 1e6): numerator = 2*|250*1000-100*500| +
    # 8*|0-100*500| = 800000 over T_b*T_r = 500000 -> 1.6 exactly
    assert got[1].l1_ppm == 800_000 * 1_000_000 // (500 * 1000)
    # replay: same epoch overwrites, no duplicate stats rows
    sink.process_batch(shifted, 1)
    assert sink.results(spark).count() == 2


def test_quality_monitor_empty_batches_flag_dead_upstream(spark, tmp_path):
    """A single empty micro-batch (idle period) must NOT alert — that
    was ADVICE r6 #4: the old maximal-drift l1 paged on every quiet
    trigger. Instead, ``dead_after`` CONSECUTIVE empty batches raise the
    separate dead_upstream flag, and any data batch resets the streak.
    Drift alerting stays distribution-only throughout."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.streaming.monitor import (
        QualityMonitorSink,
    )

    ref_df = spark.range(0, 100).select(
        (F.pmod(F.col("id"), 10) / 10.0 + 0.05).alias("value")
    )
    reference = QualityMonitorSink.batch_histogram(
        ref_df, "value", 0.0, 1.0, 10
    )
    sink = QualityMonitorSink(
        str(tmp_path / "mon"), reference, lo=0.0, hi=1.0, n_bins=10,
        alert_l1_ppm=200_000, dead_after=3,
    )
    empty = ref_df.filter(F.lit(False))
    sink.process_batch(empty, 0)   # idle trigger: quiet
    sink.process_batch(empty, 1)   # still under the streak threshold
    sink.process_batch(ref_df, 2)  # data resets the streak
    sink.process_batch(empty, 3)
    sink.process_batch(empty, 4)
    sink.process_batch(empty, 5)   # 3rd consecutive -> dead_upstream
    got = {r.epoch: r for r in sink.results(spark).collect()}
    for ep in (0, 1, 3, 4):
        r = got[ep]
        assert r.n_rows == 0 and not r.alert and r.l1_ppm == 0
        assert not r.dead_upstream
    assert not got[2].dead_upstream and not got[2].alert
    r = got[5]
    assert r.n_rows == 0 and not r.alert and r.l1_ppm == 0
    assert r.dead_upstream


def test_quality_monitor_rejects_bad_bin_config(tmp_path):
    """Construction-time validation (ADVICE r5 #3): a zero/negative span
    or n_bins < 1 must fail fast, not divide by zero mid-stream."""
    import pytest

    from instagram_data_pipeline_spark.streaming.monitor import (
        QualityMonitorSink,
    )

    ref = {0: 10}
    with pytest.raises(ValueError, match="lo must be < hi"):
        QualityMonitorSink(str(tmp_path), ref, lo=1.0, hi=1.0)
    with pytest.raises(ValueError, match="lo must be < hi"):
        QualityMonitorSink(str(tmp_path), ref, lo=2.0, hi=1.0)
    with pytest.raises(ValueError, match="n_bins"):
        QualityMonitorSink(str(tmp_path), ref, lo=0.0, hi=1.0, n_bins=0)


def test_drift_report_matches_sink_decision(spark, tmp_path):
    """The pure-plan batch twin must reproduce the foreachBatch sink's
    recorded (n_rows, l1_ppm, alert) exactly — integer-exact parity
    between the streaming and oracle-checkable surfaces."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.streaming.monitor import (
        QualityMonitorSink,
        drift_report,
    )

    ref_df = spark.range(0, 997).select(
        (F.pmod(F.col("id") * 37, 100) / 100.0).alias("value")
    )
    batch = spark.range(0, 313).select(
        (F.pmod(F.col("id") * 11, 60) / 100.0).alias("value")
    )
    reference = QualityMonitorSink.batch_histogram(
        ref_df, "value", 0.0, 1.0, 10
    )
    sink = QualityMonitorSink(
        str(tmp_path / "mon"), reference, lo=0.0, hi=1.0, n_bins=10,
        alert_l1_ppm=100_000, dead_after=1,
    )  # dead_after=1: the stateless twin has no streak context
    sink.process_batch(batch, 0)
    sink.process_batch(batch.filter(F.lit(False)), 1)  # dead upstream
    got = {r.epoch: r for r in sink.results(spark).collect()}
    twin = drift_report(
        batch, ref_df, value_col="value", lo=0.0, hi=1.0, n_bins=10,
        alert_l1_ppm=100_000,
    ).collect()[0]
    assert (twin.n_rows, twin.l1_ppm, twin.alert, twin.dead_upstream) == (
        got[0].n_rows, got[0].l1_ppm, got[0].alert, got[0].dead_upstream
    )
    empty_twin = drift_report(
        batch.filter(F.lit(False)), ref_df, value_col="value",
        lo=0.0, hi=1.0, n_bins=10, alert_l1_ppm=100_000,
    ).collect()[0]
    assert (
        empty_twin.n_rows, empty_twin.l1_ppm, empty_twin.alert,
        empty_twin.dead_upstream,
    ) == (got[1].n_rows, got[1].l1_ppm, got[1].alert, got[1].dead_upstream)
    assert empty_twin.dead_upstream and not empty_twin.alert


def test_late_data_sink_cross_batch_watermark(spark, tmp_path):
    """The accounting sink must replay the engine's watermark rule
    ACROSS batches: batch 0 can never be late (no prior watermark), a
    batch-1 row older than batch 0's max - delay is counted late, and
    the watermark only ever advances (a late batch does not drag it
    back)."""
    import datetime as dt

    from instagram_data_pipeline_spark.streaming.lateness import (
        LateDataAccountingSink,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def batch(*offsets_s):
        return spark.createDataFrame(
            [(t0 + dt.timedelta(seconds=s),) for s in offsets_s],
            "ts timestamp",
        )

    sink = LateDataAccountingSink(
        str(tmp_path / "late"), ts_col="ts",
        delay_seconds=600, window_seconds=3600,
    )
    # batch 0: events up to t0+7200 -> wm becomes 7200-600 = 6600
    sink.process_batch(batch(0, 3600, 7200), 0)
    # batch 1: 6500 < wm (late), 6700 >= wm (admitted), 8000 advances
    # the max to 8000 -> wm becomes 7400
    sink.process_batch(batch(6500, 6700, 8000), 1)
    # batch 2: 7000 < 7400 late; 100 (ancient) late; 7500 admitted
    sink.process_batch(batch(7000, 100, 7500), 2)
    got = {
        (r.epoch, r.window_start): (r.n_admitted, r.n_late)
        for r in sink.results(spark).collect()
    }
    h0 = t0
    h1 = t0 + dt.timedelta(hours=1)
    h2 = t0 + dt.timedelta(hours=2)
    assert got[(0, h0)] == (1, 0)
    assert got[(0, h1)] == (1, 0)
    assert got[(0, h2)] == (1, 0)
    assert got[(1, h1)] == (1, 1)   # 6700 admitted, 6500 late
    assert got[(1, h2)] == (1, 0)   # 8000 admitted
    assert got[(2, h0)] == (0, 1)   # 100 ancient -> late
    assert got[(2, h1)] == (0, 1)   # 7000 < 7400 -> late
    assert got[(2, h2)] == (1, 0)   # 7500 >= 7400 -> admitted


def test_late_data_batch_twin_matches_sink(spark, tmp_path):
    """The pure-plan batch twin over (row, arrival-batch) data must
    reproduce the sink's per-window totals exactly when batches are
    processed in batch order — integer-exact parity between the
    streaming and oracle-checkable surfaces."""
    import datetime as dt

    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.streaming.lateness import (
        LateDataAccountingSink,
        late_data_accounting,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # (arrival_batch, event offset seconds) — deliberately jumbled
        (0, 0), (0, 5400), (0, 9000),
        (1, 8000), (1, 200), (1, 12_000),
        (2, 11_500), (2, 3600), (2, 15_000),
        (3, 100), (3, 14_000), (3, 16_000),
    ]
    df = spark.createDataFrame(
        [(b, t0 + dt.timedelta(seconds=s)) for b, s in rows],
        "b long, ts timestamp",
    )
    kw = dict(delay_seconds=1200, window_seconds=3600)
    sink = LateDataAccountingSink(
        str(tmp_path / "late"), ts_col="ts", **kw
    )
    for b in range(4):
        sink.process_batch(df.filter(F.col("b") == b).select("ts"), b)
    want = sorted(
        map(tuple, sink.totals(spark).collect())
    )
    got = sorted(
        map(
            tuple,
            late_data_accounting(df, batch_col="b", ts_col="ts", **kw)
            .collect(),
        )
    )
    assert got == want
    # sanity: lateness actually occurred in this fixture
    assert sum(r[2] for r in got) > 0


def test_outer_join_sentinel_flush(spark, tmp_path):
    """Unmatched rows strand without a watermark-advancing batch and
    flush deterministically with sentinel ticks — the protocol
    stream_outer_attribution relies on."""
    from pyspark.sql import functions as F

    from instagram_data_pipeline_spark.streaming.events import (
        interval_left_outer_attribution,
        run_available_now_files,
        stream_from_parquet,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sch = ("event_id long, ts string, user_id long, event_type string, "
           "value double, props string")

    def land(rows):
        spark.createDataFrame(rows, sch).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id",
            "event_type", "value", "props",
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        c = stream_from_parquet(spark, src).filter(
            F.col("event_type") == "click")
        p = stream_from_parquet(spark, src).filter(
            F.col("event_type") == "purchase")
        run_available_now_files(
            interval_left_outer_attribution(c, p, max_gap="1 hour"),
            out, ckpt,
        )

    land([
        (1, "2024-01-01 10:00:00", 100, "click", 1.0, None),
        (2, "2024-01-01 10:30:00", 100, "purchase", 5.0, None),
        (3, "2024-01-01 10:30:00", 200, "purchase", 7.0, None),  # no click
    ])
    drain()
    got = spark.read.parquet(out)
    # single-batch drain: the match emits, the unmatched row strands
    assert got.count() == 1

    for i, day in enumerate(("2100-01-01", "2100-01-02")):
        land([
            (-(2 * i + 1), f"{day} 00:00:00", -1, "click", 0.0, None),
            (-(2 * i + 2), f"{day} 00:00:00", -1, "purchase", 0.0, None),
        ])
        drain()
    rows = {
        (r.user_id, r.purchase_id): r.click_id
        for r in spark.read.parquet(out)
        .filter(F.col("user_id") >= 0).collect()
    }
    assert rows == {(100, 2): 1, (200, 3): None}


def test_processing_time_soak_ledger_exactly_once_across_restart(
    spark, sf_dir, tmp_path_factory
):
    """VERDICT r8 Next #7: a processingTime trigger driven through >=3
    REAL micro-batches (events -> LedgerProgressSink), then a mid-run
    restart from the same checkpoint with a FRESH sink instance — rows
    land exactly once, the ledger's processed_items never regresses,
    and epoch ids continue (not replay) across the restart. Bounded
    wall clock: every wait polls with a hard deadline."""
    import os
    import shutil
    import time

    def land(slice_df, spool, tag):
        """One parquet file atomically visible to the file source."""
        staging = str(tmp_path_factory.mktemp(f"stage_{tag}"))
        slice_df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        shutil.move(
            os.path.join(staging, part), os.path.join(spool, f"{tag}.parquet")
        )

    def wait_until(pred, timeout=90.0, what=""):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if pred():
                return
            time.sleep(0.2)
        raise AssertionError(f"timed out waiting for {what}")

    events = load_testdata(spark, sf_dir, "events").orderBy("event_id")
    slices = [
        events.limit(400).filter(F.col("event_id") % 4 == k)
        for k in range(4)
    ]
    n_slice = [s.count() for s in slices]

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.ensure_tables({**REFERENCE_TABLES, "events_landed": EVENTS})
    from instagram_data_pipeline_spark.schemas import SCRAPE_JOBS

    wh.overwrite_atomic(
        "scrape_jobs",
        spark.createDataFrame(
            [(1, "ingest", "followers", "pending",
              None, None, None, None, 0, None)],
            SCRAPE_JOBS,
        ),
    )

    spool = str(tmp_path_factory.mktemp("spool"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    land(slices[0], spool, "f0")
    land(slices[1], spool, "f1")

    def start(sink):
        return (
            stream_from_parquet(spark, spool, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )

    sink1 = LedgerProgressSink(wh, "events_landed", job_id=1,
                               now=dt.datetime(2024, 3, 1))
    q = start(sink1)
    try:
        # two pre-landed files -> two 1-file micro-batches
        wait_until(
            lambda: sink1.rows_seen == n_slice[0] + n_slice[1],
            what="first two micro-batches",
        )
        # third file lands WHILE the periodic trigger is running
        land(slices[2], spool, "f2")
        wait_until(
            lambda: sink1.rows_seen == sum(n_slice[:3]),
            what="third micro-batch",
        )
        assert q.isActive
        assert len([e for e in sink1.epochs]) >= 3
        # let the LAST epoch's checkpoint commit become durable before
        # stopping: stop() racing the commit log would legitimately
        # replay the epoch on restart (at-least-once), which is the
        # sink's documented cross-process limitation, not this test's
        # subject
        last = max(sink1.epochs)
        wait_until(
            lambda: os.path.exists(os.path.join(ckpt, "commits", str(last))),
            what="checkpoint commit of the last pre-restart epoch",
        )
    finally:
        q.stop()
        q.awaitTermination()

    # ---- mid-run restart: same checkpoint, FRESH sink instance ----
    land(slices[3], spool, "f3")
    sink2 = LedgerProgressSink(wh, "events_landed", job_id=1,
                               now=dt.datetime(2024, 3, 1))
    q2 = start(sink2)
    try:
        # wait on the SINK's post-ledger state (rows_seen advances only
        # after the append AND the ledger update both committed), so
        # stop() can't interrupt the foreachBatch mid-flight
        wait_until(
            lambda: sink2.rows_seen == sum(n_slice),
            what="fourth micro-batch after restart",
        )
    finally:
        q2.stop()
        q2.awaitTermination()
    sink2.complete()

    # exactly once: every landed row exactly one copy, no replays of
    # the pre-restart batches despite the fresh sink's empty fence
    assert wh.read("events_landed").count() == sum(n_slice)
    assert (
        wh.read("events_landed").select("event_id").distinct().count()
        == sum(n_slice)
    )
    job = wh.read("scrape_jobs").collect()[0]
    assert job.status == "completed"
    assert job.processed_items == sum(n_slice) == job.total_items
    # the checkpoint CONTINUED the epoch sequence across the restart
    data_epochs2 = [e for e in sink2.epochs]
    assert data_epochs2 and min(data_epochs2) > max(sink1.epochs)
