"""Storage layout, streaming ingest, rollup maintenance, retention tests."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from nntsc_spark.ingest.amp_icmp import UNIQUE_COLS, process_icmp
from nntsc_spark.operators.rollup import build_rollup
from nntsc_spark.storage import (
    apply_retention,
    read_dimension,
    read_fact,
    write_dimension,
    write_fact,
)
from nntsc_spark.streaming.ingest import CollectionIngestor
from nntsc_spark.streaming.rollup import RollupMaintainer

ICMP_RAW_SCHEMA = (
    "source string, timestamp long, rtt long, loss long, random boolean, "
    "target string, address string, packet_size long"
)

DAY = 86400


def _raw_rows(t0: int, n: int, target: str = "dst", rtt0: int = 1000):
    return [
        ("amp", t0 + 60 * i, rtt0 + i, 0, False, target, "1.2.3.4", 84)
        for i in range(n)
    ]


def test_write_read_fact_partitioned(spark, tmp_path):
    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(1, 100, 1.0), (1, 100 + DAY, 2.0), (2, 100 + 2 * DAY, 3.0)],
        "stream_id long, timestamp long, value double",
    )
    write_fact(df, path)
    assert sorted(p.name for p in (tmp_path / "fact").glob("date=*")) == [
        "date=1970-01-01",
        "date=1970-01-02",
        "date=1970-01-03",
    ]
    back = read_fact(spark, path)
    assert back.count() == 3 and "date" not in back.columns


def test_retention_drops_old_partitions(spark, tmp_path):
    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(1, 100, 1.0), (1, 100 + 5 * DAY, 2.0)],
        "stream_id long, timestamp long, value double",
    )
    write_fact(df, path)
    dropped = apply_retention(path, keep_seconds=2 * DAY, now=100 + 5 * DAY)
    assert dropped == ["date=1970-01-01"]
    assert read_fact(spark, path).count() == 1


def test_batch_ingest_roundtrip(spark, tmp_path):
    ing = CollectionIngestor(
        spark,
        process_icmp,
        UNIQUE_COLS,
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
        stats_path=str(tmp_path / "stats"),
    )
    raw1 = spark.createDataFrame(_raw_rows(1_000_000, 5, "a"), ICMP_RAW_SCHEMA)
    ing.process_batch(raw1)
    raw2 = spark.createDataFrame(
        _raw_rows(1_000_300, 5, "a") + _raw_rows(1_000_000, 3, "b"),
        ICMP_RAW_SCHEMA,
    )
    ing.process_batch(raw2)

    fact = ing.read_fact()
    assert fact.count() == 13
    streams = read_dimension(spark, str(tmp_path / "streams"))
    assert streams.count() == 2  # a + b
    stats = read_dimension(spark, str(tmp_path / "stats"))
    srow = {r.stream_id: r for r in stats.collect()}
    a_id = [r.stream_id for r in streams.collect() if r.destination == "a"][0]
    assert srow[a_id].rows == 10
    assert srow[a_id].first_ts == 1_000_000
    assert srow[a_id].last_ts == 1_000_300 + 4 * 60


def test_dimension_crash_before_commit_keeps_old_snapshot(spark, tmp_path):
    """T4: a writer dying before the atomic rename leaves the previous
    snapshot intact and readable (plain overwrite would have deleted it)."""
    path = str(tmp_path / "dim")
    df1 = spark.createDataFrame([(1, "a")], "stream_id long, destination string")
    write_dimension(df1, path)
    # simulate a crash mid-write: abandoned staging dir, no rename
    stage = tmp_path / "dim" / ".staging-deadbeef"
    stage.mkdir()
    (stage / "part-junk.parquet").write_bytes(b"not parquet")
    got = read_dimension(spark, path)
    assert got.count() == 1 and got.collect()[0].destination == "a"
    # next successful write commits v2 and sweeps the dead staging dir
    df2 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "stream_id long, destination string"
    )
    write_dimension(df2, path)
    assert read_dimension(spark, path).count() == 2
    assert not list((tmp_path / "dim").glob(".staging-*"))


def test_dimension_versions_pruned_and_latest_wins(spark, tmp_path):
    path = str(tmp_path / "dim")
    for n in range(4):
        df = spark.createDataFrame(
            [(i, "x") for i in range(n + 1)], "stream_id long, destination string"
        )
        write_dimension(df, path, keep_versions=2)
    assert read_dimension(spark, path).count() == 4
    versions = sorted(p.name for p in (tmp_path / "dim").glob("v*"))
    assert len(versions) == 2  # pruned to keep_versions
    assert versions[-1] == "v00000004"


def test_fact_append_crash_residue_is_invisible(spark, tmp_path):
    """T4: uncommitted task output under _temporary/ never reaches readers."""
    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(1, 1_000_000, 1.0)], "stream_id long, timestamp long, value double"
    )
    write_fact(df, path)
    tmp = tmp_path / "fact" / "_temporary" / "0" / "task-attempt"
    tmp.mkdir(parents=True)
    (tmp / "part-00000.parquet").write_bytes(b"garbage from a dead job")
    assert read_fact(spark, path).count() == 1


def test_batch_ingest_dedups_within_batch(spark, tmp_path):
    ing = CollectionIngestor(
        spark,
        process_icmp,
        UNIQUE_COLS,
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
    )
    rows = _raw_rows(2_000_000, 2, "a")
    # same (stream, timestamp) batch content twice -> parser aggregates per
    # (stream, ts); duplicate fact keys collapse
    raw = spark.createDataFrame(rows + rows, ICMP_RAW_SCHEMA)
    ing.process_batch(raw)
    fact = ing.read_fact()
    assert fact.count() == 2
    assert (
        fact.groupBy("stream_id", "timestamp").count().where(F.col("count") > 1).count()
        == 0
    )


def test_streaming_ingest_file_source(spark, tmp_path):
    """End-to-end Structured Streaming: JSON file source -> foreachBatch
    ingest -> partitioned fact table (availableNow trigger)."""
    src = tmp_path / "incoming"
    src.mkdir()
    rows = [
        dict(
            source="amp", timestamp=3_000_000 + 60 * i, rtt=1000 + i, loss=0,
            random=False, target="st", address="9.9.9.9", packet_size=84,
        )
        for i in range(6)
    ]
    with open(src / "batch1.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    raw_stream = (
        spark.readStream.schema(ICMP_RAW_SCHEMA).json(str(src))
    )
    ing = CollectionIngestor(
        spark,
        process_icmp,
        UNIQUE_COLS,
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
    )
    q = ing.start_stream(raw_stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    fact = ing.read_fact()
    assert fact.count() == 6
    assert read_dimension(spark, str(tmp_path / "streams")).count() == 1


def test_rollup_maintainer_matches_batch_build(spark, tmp_path):
    fact_path = str(tmp_path / "fact")
    df1 = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 3.0), (1, 70, 5.0)],
        "stream_id long, timestamp long, value double",
    )
    write_fact(df1, fact_path)
    rm = RollupMaintainer(spark, fact_path, str(tmp_path / "rollup"), 60, ["value"])
    rm.refresh_for_batch(df1)
    r1 = {r.binstart: r for r in rm.read().collect()}
    assert r1[0].magiccount_value == 2 and r1[60].magiccount_value == 1

    # late data lands in bin 0 -> only that bin is recomputed
    late = spark.createDataFrame(
        [(1, 30, 7.0)], "stream_id long, timestamp long, value double"
    )
    write_fact(late, fact_path)
    rm.refresh_for_batch(late)
    r2 = {r.binstart: r for r in rm.read().collect()}
    assert r2[0].magiccount_value == 3
    assert r2[0].sum_value == pytest.approx(11.0)
    assert r2[60].magiccount_value == 1  # untouched bin survives

    # equivalence with the batch builder over the full fact table
    full = build_rollup(read_fact(spark, fact_path), 60, ["value"])
    batch = {r.binstart: r for r in full.collect()}
    for b in batch:
        assert r2[b].sum_value == pytest.approx(batch[b].sum_value)
        assert r2[b].magiccount_value == batch[b].magiccount_value


def test_rollup_maintainer_wide_sparse_batch_range_fallback(spark, tmp_path):
    """A batch touching more distinct bins than max_inlist_bins refreshes
    via the [min_bin, max_bin] range predicate instead of a giant IN-list;
    results still match the batch builder, and a pre-existing bin OUTSIDE
    the range survives."""
    fact_path = str(tmp_path / "fact")
    early = spark.createDataFrame(
        [(1, 999_000, 9.0)], "stream_id long, timestamp long, value double"
    )
    write_fact(early, fact_path)
    rm = RollupMaintainer(spark, fact_path, str(tmp_path / "rollup"), 60, ["value"])
    rm.max_inlist_bins = 4  # force the fallback at test size
    rm.refresh_for_batch(early)

    # 6 sparse bins spread over ~6 days > cap of 4 -> range fallback
    wide = spark.createDataFrame(
        [(1, i * 86_400 + 30, float(i)) for i in range(6)],
        "stream_id long, timestamp long, value double",
    )
    write_fact(wide, fact_path)
    rm.refresh_for_batch(wide)
    got = {r.binstart: r for r in rm.read().collect()}
    assert got[999_000 - 999_000 % 60].magiccount_value == 1  # outside range
    full = build_rollup(read_fact(spark, fact_path), 60, ["value"])
    batch = {r.binstart: r for r in full.collect()}
    assert set(got) == set(batch)
    for b in batch:
        assert got[b].sum_value == pytest.approx(batch[b].sum_value)
        assert got[b].magiccount_value == batch[b].magiccount_value


def test_bucketed_fact_avoids_shuffle(spark, tmp_path):
    from nntsc_spark.storage import write_fact_bucketed

    df = spark.createDataFrame(
        [(i % 50, 1000 + i, float(i)) for i in range(5000)],
        "stream_id long, timestamp long, value double",
    )
    write_fact_bucketed(df, "fact_bucketed_test", str(tmp_path / "fb"), buckets=8)
    t = spark.table("fact_bucketed_test")
    # aggregation on the bucket key: the pre-hashed layout replaces the
    # exchange before the final aggregate
    agg_plan = (
        t.groupBy("stream_id")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in agg_plan
    # self-join on the bucket key: no shuffle on either side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t.alias("a").join(spark.table("fact_bucketed_test").alias("b"), "stream_id")
        join_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in join_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS fact_bucketed_test")


def test_kafka_envelope_decode_feeds_ingest(spark, tmp_path):
    """decode_kafka_batch: Kafka's binary envelope -> typed rows identical
    to the file-source path, malformed bodies dropped (amp.py:202-210)."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from nntsc_spark.sources.kafka import decode_kafka_batch, kafka_raw_stream

    schema = StructType(
        [
            StructField("source", StringType()),
            StructField("timestamp", LongType()),
            StructField("rtt", LongType()),
            StructField("loss", LongType()),
            StructField("random", BooleanType()),
            StructField("target", StringType()),
            StructField("address", StringType()),
            StructField("packet_size", LongType()),
        ]
    )
    bodies = [
        json.dumps(dict(zip(schema.fieldNames(), row))).encode()
        for row in _raw_rows(1_000_000, 5)
    ] + [b"{not json"]
    envelope = spark.createDataFrame(
        [(None, b, "amp-icmp", 0, i, 0) for i, b in enumerate(bodies)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp long",
    )
    raw = decode_kafka_batch(envelope, schema)
    assert raw.count() == 5  # malformed row dropped
    ing = CollectionIngestor(
        spark,
        process_icmp,
        UNIQUE_COLS,
        str(tmp_path / "fact"),
        str(tmp_path / "streams"),
    )
    fact = ing.process_batch(raw)
    assert fact.count() == 5
    assert read_fact(spark, str(tmp_path / "fact")).count() == 5
    # reader config is constructible without the connector jar
    reader = kafka_raw_stream(spark, "broker:9092", "nntsc-amp")
    assert reader is not None


def test_streaming_sessionize_state_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer: an open session survives the
    micro-batch boundary and only closes when a later event exceeds the
    gap; closed sessions match the batch operator's numbers."""
    from nntsc_spark.streaming.sessions import streaming_sessionize

    src = tmp_path / "events"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out = tmp_path / "sessions"
    schema = "stream_id long, timestamp long, value double"

    def run_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(
                    ("stream_id", "timestamp", "value"), r))) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            streaming_sessionize(stream, timeout=100)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: stream 1 has a closed session (gap 500 > 100) + an open one
    run_batch("b1.json", [(1, 1000, 1.0), (1, 1050, 2.0), (1, 1600, 3.0),
                          (2, 1000, 5.0)])
    first = spark.read.parquet(str(out)).collect()
    assert len(first) == 1
    s = first[0]
    assert (s.stream_id, s.session_start, s.session_end, s.n_events,
            s.value_sum) == (1, 1000, 1050, 2, 3.0)

    # batch 2: stream 1's open session (started 1600) extends then closes;
    # stream 2's open session closes too
    run_batch("b2.json", [(1, 1650, 4.0), (1, 9000, 9.0), (2, 5000, 6.0)])
    rows = {(r.stream_id, r.session_start): r
            for r in spark.read.parquet(str(out)).collect()}
    assert len(rows) == 3
    s1 = rows[(1, 1600)]
    assert (s1.session_end, s1.n_events, s1.value_sum) == (1650, 2, 7.0)
    s2 = rows[(2, 1000)]
    assert (s2.session_end, s2.n_events, s2.value_sum) == (1000, 1, 5.0)


def test_watermarked_rollup_late_data_and_restart(spark, tmp_path):
    """Watermark semantics end-to-end: a late row inside the delay lands in
    its bin; a row older than the watermark is dropped; append mode emits
    each finalized bin exactly once; the checkpoint resumes across runs."""
    import json as _json
    import os
    import time as _time

    from nntsc_spark.streaming.windowed import WatermarkedRollup

    raw = tmp_path / "raw"
    raw.mkdir()

    def drop(name, rows):
        p = raw / name
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        # file source orders batches by mtime: force strictly increasing
        t = _time.time() + drop.seq
        drop.seq += 10
        os.utime(p, (t, t))

    drop.seq = 0
    wr = WatermarkedRollup(
        spark,
        str(raw),
        "stream_id long, timestamp long, value double",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        binsize=300,
        delay=600,
    )

    def bins():
        return {r.binstart: r for r in wr.finalized().collect()}

    # run 1: bins 900 (ts 1000) and 1200 (ts 1250) open; end-of-run
    # watermark 1250-600=650 closes nothing
    drop("a.json", [
        {"stream_id": 1, "timestamp": 1000, "value": 10.0},
        {"stream_id": 1, "timestamp": 1250, "value": 20.0},
    ])
    wr.run_available()

    # run 2 (checkpoint resume, watermark 650): the ts=1100 row is LATE but
    # inside the delay -> lands in bin 900; ts=3000 pushes the watermark to
    # 2400, finalizing bins 900 and 1200
    drop("b.json", [
        {"stream_id": 1, "timestamp": 1100, "value": 30.0},
        {"stream_id": 1, "timestamp": 3000, "value": 1.0},
    ])
    wr.run_available()
    b = bins()
    assert set(b) == {900, 1200}
    assert b[900].magiccount == 2  # late 1100 row counted
    assert b[900].avg_value == pytest.approx(20.0)  # (10+30)/2
    assert b[1200].magiccount == 1

    # run 3 (watermark 2400): ts=1000 is OLDER than the watermark -> must
    # be dropped, NOT re-open finalized bin 900; ts=4000 -> watermark 3400
    # finalizes the ts=3000 bin
    drop("c.json", [
        {"stream_id": 1, "timestamp": 1000, "value": 999.0},
        {"stream_id": 1, "timestamp": 4000, "value": 2.0},
    ])
    wr.run_available()
    b = bins()
    assert set(b) == {900, 1200, 3000}
    assert b[900].magiccount == 2  # too-late 999.0 dropped, bin unchanged
    assert b[3000].magiccount == 1

    # run 4: watermark 4400 finalizes the ts=4000 bin (3900); each bin was
    # emitted exactly once across all restarts
    drop("d.json", [{"stream_id": 1, "timestamp": 5000, "value": 3.0}])
    wr.run_available()
    b = bins()
    assert set(b) == {900, 1200, 3000, 3900}
    assert b[3900].magiccount == 1
    assert b[3900].avg_value == pytest.approx(2.0)


def test_streaming_dedup_index_compaction_preserves_rejections(spark, tmp_path):
    """compact_index merges the per-batch band/sig/corpus partitions into
    the batch=-1 sentinel without changing corpus contents, and a LATER
    batch still dedups correctly against the merged index (-1 is prior to
    every real epoch, and can never be overwritten by one)."""
    import glob as _glob

    from nntsc_spark.streaming.dedup import IncrementalDeduper

    ded = IncrementalDeduper(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    base = "the quick brown fox jumps over the lazy dog"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    ded.process_batch(mk([(1, base), (2, "entirely different words here now ok")]), 0)
    ded.process_batch(mk([(3, "fresh content matching nothing previously seen")]), 1)
    ded.process_batch(mk([(4, "yet another novel never before seen document")]), 2)
    before = {r.doc_id for r in ded.corpus().collect()}
    assert before == {1, 2, 3, 4}
    n_files = len(_glob.glob(f"{tmp_path}/idx/bands/*/*.parquet"))

    done = ded.compact_index(target_bytes=1 << 30)
    assert set(done) == {"bands", "sigs", "corpus"}
    assert len(_glob.glob(f"{tmp_path}/idx/bands/*/*.parquet")) < n_files
    assert _glob.glob(f"{tmp_path}/idx/bands/batch=-1/*.parquet")
    assert not _glob.glob(f"{tmp_path}/idx/bands/batch=[!-]*")
    assert {r.doc_id for r in ded.corpus().collect()} == before
    # idempotent: already merged and under the size target -> no-op
    assert ded.compact_index(target_bytes=1 << 30) == []
    # a post-compaction batch still rejects a dup of a PRE-compaction doc
    accepted = ded.process_batch(
        mk([(9, base), (10, "genuinely new words appearing for the first time")]), 3
    )
    assert {r.doc_id for r in accepted.collect()} == {10}
    # FRESH-CHECKPOINT RESTART: a new stream's epoch ids reset to 0, and
    # epoch 0's idempotent overwrite targets batch=0 — the compacted
    # merge must live where no real epoch can clobber it (batch=-1), so
    # the restarted stream still dedups against the full pre-restart
    # corpus AND the corpus itself survives the overwrite.
    accepted = ded.process_batch(
        mk([(11, base), (12, "post restart document with novel content")]), 0
    )
    assert {r.doc_id for r in accepted.collect()} == {12}
    assert {r.doc_id for r in ded.corpus().collect()} >= before


def test_span_index_compaction_preserves_detection(spark, tmp_path):
    """IncrementalSpanIndex.compact_index: merged fingerprints still flag
    a later batch's verbatim reuse of a pre-compaction passage."""
    from nntsc_spark.streaming.dedup import IncrementalSpanIndex

    idx = IncrementalSpanIndex(
        spark, str(tmp_path / "sidx"), str(tmp_path / "spans"), w=3
    )
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx.process_batch(mk([(1, passage)]), 0)
    idx.process_batch(mk([(2, "unrelated words that collide with nothing at all")]), 1)
    before = {tuple(r) for r in idx.spans().collect()}
    assert idx.compact_index(target_bytes=1 << 30) == ["wins", "spans"]
    assert {tuple(r) for r in idx.spans().collect()} == before
    assert idx.compact_index(target_bytes=1 << 30) == []  # idempotent
    out = idx.process_batch(mk([(3, passage + " brand new tail")]), 2)
    spans3 = out.collect()
    assert spans3 and all(r.doc_id == 3 for r in spans3)
    assert min(r.span_start for r in spans3) == 1  # reused from token 1


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Persistent-band-index dedup: within-batch near-dups drop (min doc_id
    survives), and a later batch's duplicates are rejected against the
    index built by earlier batches — no global re-pass."""
    from nntsc_spark.streaming.dedup import IncrementalDeduper

    src = tmp_path / "docs"
    src.mkdir()
    chk = str(tmp_path / "chk")
    ded = IncrementalDeduper(
        spark, str(tmp_path / "band_index"), str(tmp_path / "corpus")
    )
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog"

    def run_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(("doc_id", "text"), r))) + "\n")
        q = ded.start_stream(
            spark.readStream.schema(schema).json(str(src)), chk
        )
        q.awaitTermination(120)

    run_batch(
        "b1.json",
        [
            (1, base),
            (2, "completely different words entirely unrelated text here now"),
            (3, base + " x"),  # near-dup of 1, same batch -> min id wins
        ],
    )
    corpus = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert corpus == {1, 2}

    run_batch(
        "b2.json",
        [
            (4, base),  # exact dup of doc 1 from the PREVIOUS batch
            (5, "fresh content that matches nothing seen before today ok"),
        ],
    )
    corpus = {r.doc_id for r in ded.corpus().collect()}
    assert corpus == {1, 2, 5}
    # as_of_batch serves the committed-epoch prefix only (torn-read hatch)
    assert {r.doc_id for r in ded.corpus(as_of_batch=0).collect()} == {1, 2}
    # index holds bands+sigs only for accepted docs
    for sub in ("bands", "sigs"):
        idx = spark.read.parquet(str(tmp_path / "band_index" / sub))
        assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} == {1, 2, 5}, sub


def test_incremental_dedup_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch with the same id
    (the retry case — including after a crash between the corpus and index
    writes) must overwrite its own partitions, not lose or duplicate docs."""
    from nntsc_spark.streaming.dedup import IncrementalDeduper

    ded = IncrementalDeduper(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally different words again")],
        "doc_id long, text string",
    )
    ded.process_batch(docs, batch_id=0)
    first = sorted((r.doc_id, r.text) for r in ded.corpus().collect())
    # simulate the retry: same batch id, same data — e.g. the index write
    # succeeded but the driver died before the checkpoint committed
    ded.process_batch(docs, batch_id=0)
    again = sorted((r.doc_id, r.text) for r in ded.corpus().collect())
    assert again == first  # no duplicates, no losses
    # and batch 1 still dedups against batch 0 via the index
    dup = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    accepted = ded.process_batch(dup, batch_id=1)
    assert accepted.count() == 0


def test_incremental_dedup_survives_partial_index_write(spark, tmp_path):
    """Crash window between the bands and sigs index writes: the retry must
    run (not crash on the asymmetric dir state) and restore full state."""
    import shutil

    from nntsc_spark.streaming.dedup import IncrementalDeduper

    ded = IncrementalDeduper(spark, str(tmp_path / "idx"), str(tmp_path / "corpus"))
    docs = spark.createDataFrame(
        [(1, "one two three four five six seven")], "doc_id long, text string"
    )
    ded.process_batch(docs, batch_id=0)
    # simulate the crash: bands written, sigs lost
    shutil.rmtree(tmp_path / "idx" / "sigs")
    ded.process_batch(docs, batch_id=0)  # retry must not raise
    # harsher variant: the sigs dir exists but holds only an uncommitted
    # _temporary (FileOutputCommitter died mid-write) — schema inference
    # would raise UNABLE_TO_INFER_SCHEMA; the explicit-schema read must not
    shutil.rmtree(tmp_path / "idx" / "sigs")
    (tmp_path / "idx" / "sigs" / "batch=0" / "_temporary").mkdir(parents=True)
    ded.process_batch(docs, batch_id=0)  # retry must not raise
    assert {r.doc_id for r in ded.corpus().collect()} == {1}
    assert (tmp_path / "idx" / "sigs").exists()
    # duplicates in the next batch are still caught after the repair
    dup = spark.createDataFrame(
        [(9, "one two three four five six seven")], "doc_id long, text string"
    )
    assert ded.process_batch(dup, batch_id=1).count() == 0


def test_exact_dedup_stream_first_occurrence_wins(spark, tmp_path):
    from nntsc_spark.streaming.dedup import exact_dedup_stream

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for did, text in [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc")]:
            f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        exact_dedup_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert {r.text for r in rows} == {"aaa", "bbb", "ccc"}
    assert len(rows) == 3


def test_ivf_index_maintainer_streams_appends_exactly_once(spark, tmp_path):
    """Streaming IVF maintenance: a vector stream appends into a built
    index through foreachBatch; queries then see seed + streamed vectors,
    and a crash-retry of the same epoch (process_batch re-run with the
    same batch_id) does not duplicate anything."""
    from nntsc_spark.pipeline.similarity import ivf_build_index, ivf_query_index
    from nntsc_spark.streaming.similarity import IvfIndexMaintainer

    seed = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.01 * i]) for i in range(8)]
        + [(8 + i, [0.0, 1.0, 0.01 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    ivf_build_index(seed, path, nlist=2)

    src = tmp_path / "vecs"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for i in range(4):
            f.write(json.dumps(
                {"vec_id": 100 + i, "embedding": [1.0, 0.0, 0.02 * i]}) + "\n")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    maint = IvfIndexMaintainer(path)
    q = maint.start_stream(stream, str(tmp_path / "chk"))
    q.awaitTermination(120)
    assert maint.last_result["n_appended"] == 4
    assert not maint.drift_flagged  # same distribution as the seed
    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == 16 + 4
    # streamed vectors are queryable neighbors
    res = ivf_query_index(spark, path, [100], k=3, nprobe=1).collect()
    assert res and all(r.query_id == 100 for r in res)
    # crash-retry of the SAME epoch: re-running batch 0 must overwrite
    # its own partitions, not append again
    batch = spark.createDataFrame(
        [(100 + i, [1.0, 0.0, 0.02 * i]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    maint.process_batch(batch, 0)
    assert spark.read.parquet(f"{path}/corpus").count() == 20
    # empty batches are skipped without touching the stats table
    n_stats = spark.read.parquet(f"{path}/stats").count()
    maint.process_batch(batch.limit(0), 5)
    assert spark.read.parquet(f"{path}/stats").count() == n_stats


def test_text_operators_compose_with_streams(spark, tmp_path):
    """The text/quality operators are stateless projections, so the SAME
    functions run unchanged on a streaming DataFrame — batch/streaming
    parity by construction, no separate streaming implementations."""
    from nntsc_spark.pipeline.text import pii_scrub, quality_features

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "mail me at a@b.co now ok"}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": "just some plain words here"}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    scrubbed = pii_scrub(stream)
    quality = quality_features(stream).select("doc_id", "n_tokens")
    q = (
        scrubbed.join(quality, "doc_id")  # stateless projections compose
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows[1].n_email == 1 and "<EMAIL>" in rows[1].scrubbed_text
    assert rows[2].n_email == 0 and rows[2].n_tokens == 5


def test_incremental_spans_across_batches(spark, tmp_path):
    """Streaming repeated-span detection: a later batch's verbatim reuse of
    an earlier passage is flagged against the persistent fingerprint index,
    within-batch repeats are flagged immediately, per-batch results match
    the batch operator restricted to the batch's docs, and a retried batch
    is idempotent."""
    from nntsc_spark.pipeline.dedup import duplicate_spans
    from nntsc_spark.streaming.dedup import IncrementalSpanIndex

    idx = IncrementalSpanIndex(
        spark, str(tmp_path / "span_index"), str(tmp_path / "spans"), w=5
    )
    schema = "doc_id long, text string"
    phrase = "alpha beta gamma delta epsilon zeta"          # 6 tokens
    q_phrase = "one two three four five"                    # 5 tokens

    b0 = spark.createDataFrame(
        [
            (0, "intro words here " + phrase + " closing remark"),
            (1, "nothing shared with anything else in this corpus at all"),
        ],
        schema,
    )
    s0 = idx.process_batch(b0, 0).collect()
    assert s0 == []  # first occurrence: nothing to flag yet (forward-only)

    b1 = spark.createDataFrame(
        [
            (2, "reused content follows " + phrase + " and then fresh tail"),
            (3, "unique text with no repeats of any earlier passage okay"),
            (4, "padding start " + q_phrase + " padding end"),
            (5, "other padding " + q_phrase + " trailing bits"),  # in-batch dup
        ],
        schema,
    )
    s1 = {(r.doc_id, r.span_start, r.span_end): r.n_windows
          for r in idx.process_batch(b1, 1).collect()}
    # doc 2: phrase occupies tokens 4..9 -> two 5-windows (starts 4,5) merge
    assert s1[(2, 4, 9)] == 2
    # docs 4/5: q_phrase at tokens 3..7 exactly one 5-window each
    assert s1[(4, 3, 7)] == 1 and s1[(5, 3, 7)] == 1
    assert set(s1) == {(2, 4, 9), (4, 3, 7), (5, 3, 7)}

    # parity: batch operator over the union, restricted to batch-1 docs
    batch_all = {
        (r.doc_id, r.span_start, r.span_end): r.n_windows
        for r in duplicate_spans(b0.unionByName(b1), w=5).collect()
        if r.doc_id >= 2
    }
    assert batch_all == s1

    # crash-retry idempotence: reprocessing batch 1 yields identical spans
    # and does not double-insert fingerprints
    n_index = spark.read.parquet(str(tmp_path / "span_index/wins")).count()
    s1_retry = {(r.doc_id, r.span_start, r.span_end): r.n_windows
                for r in idx.process_batch(b1, 1).collect()}
    assert s1_retry == s1
    assert spark.read.parquet(str(tmp_path / "span_index/wins")).count() == n_index

    # as_of_batch serves the committed-epoch prefix only (torn-read hatch):
    # batch 0 flagged nothing, batch 1 flagged s1
    assert idx.spans(as_of_batch=0).count() == 0
    assert {
        (r.doc_id, r.span_start, r.span_end): r.n_windows
        for r in idx.spans(as_of_batch=1).collect()
    } == s1


def test_live_export_oversized_batch_guard(spark, tmp_path):
    """The 'micro-batches are small' assumption is enforced: a batch over
    live_export_max_rows skips live fan-out (no rows, no PUSH marker — a
    marker would falsely claim delivery) with a warning, while a small
    batch fans out normally."""

    class StubExporter:
        def __init__(self):
            self.published = []
            self.markers = []

        def publish_live(self, colname, sid, rows):
            self.published.append((colname, sid, len(rows)))

        def push_marker(self, colname, ts):
            self.markers.append((colname, ts))

    exp = StubExporter()
    ing = CollectionIngestor(
        spark,
        parser=lambda df: df,
        unique_cols=["source", "target"],
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
        collection="amp-icmp",
        exporter=exp,
        live_export_max_rows=5,
    )
    small = spark.createDataFrame(
        [("amp", "d1", 100 + i, float(i)) for i in range(4)],
        "source string, target string, timestamp long, value double",
    )
    ing.process_batch(small)
    assert sum(n for _, _, n in exp.published) == 4
    assert exp.markers == [("amp-icmp", 103)]

    big = spark.createDataFrame(
        [("amp", "d1", 1000 + i, float(i)) for i in range(9)],
        "source string, target string, timestamp long, value double",
    )
    ing.process_batch(big)
    # nothing new: the oversized batch was skipped, marker included
    assert sum(n for _, _, n in exp.published) == 4
    assert exp.markers == [("amp-icmp", 103)]
    # but the facts were still written (only the live hook is skipped)
    assert read_fact(spark, str(tmp_path / "fact")).count() == 13


def test_streaming_fact_write_retry_is_idempotent(spark, tmp_path):
    """T4 under retry: reprocessing the SAME batch id overwrites the
    batch's own (date, ingest_batch) partitions instead of appending the
    rows a second time — the foreachBatch crash-between-append-and-commit
    case that a plain append would double forever."""
    path = str(tmp_path / "fact")
    ing = CollectionIngestor(
        spark,
        parser=lambda df: df,
        unique_cols=["source", "target"],
        fact_path=path,
        streams_path=str(tmp_path / "streams"),
    )
    raw = spark.createDataFrame(
        [("amp", "d1", 100 + i, float(i)) for i in range(6)],
        "source string, target string, timestamp long, value double",
    )
    ing.process_batch(raw, batch_id=7)
    ing.process_batch(raw, batch_id=7)  # retry of the same epoch
    assert read_fact(spark, path).count() == 6
    # a DIFFERENT batch appends (its own partitions)
    raw2 = spark.createDataFrame(
        [("amp", "d1", 90000 + i, float(i)) for i in range(4)],
        "source string, target string, timestamp long, value double",
    )
    ing.process_batch(raw2, batch_id=8)
    back = read_fact(spark, path)
    assert back.count() == 10 and "ingest_batch" not in back.columns


def test_time_slice_prunes_date_partitions(spark, tmp_path):
    from nntsc_spark.storage import time_slice

    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [(1, 100 + d * DAY + i, float(i)) for d in range(4) for i in range(5)],
        "stream_id long, timestamp long, value double",
    )
    write_fact(df, path)
    sliced = time_slice(
        spark.read.parquet(path), 100 + DAY, 100 + DAY + 4
    )
    assert sliced.count() == 5
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    # the date bounds must reach the scan's PARTITION filters (directory
    # pruning), not just the row-level data filters
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "1970-01-02" in m.group(1), plan[:800]


def test_with_date_matches_retention_day_rendering(spark):
    """with_date and apply_retention/epoch_day must agree on the partition
    day for any epoch, or retention deletes live data (tz-skew bug)."""
    from nntsc_spark.storage import epoch_day, with_date

    epochs = [0, DAY - 1, DAY, 1786699974, 2 * DAY + 86399]
    df = with_date(
        spark.createDataFrame([(e,) for e in epochs], "timestamp long")
    )
    got = {r.timestamp: r.date for r in df.collect()}
    assert got == {e: epoch_day(e) for e in epochs}


def test_write_fact_zorder_empty_batch_is_noop(spark, tmp_path):
    from nntsc_spark.storage import write_fact_zorder

    empty = spark.createDataFrame(
        [], "stream_id long, timestamp long, value double"
    )
    write_fact_zorder(empty, str(tmp_path / "zfact"))  # must not raise
    assert not (tmp_path / "zfact").exists()


def test_watermarked_rollup_streaming_histograms_match_batch(spark, tmp_path):
    """hist_spec: the stream-maintained per-bin count vectors must be
    BIT-IDENTICAL to the batch histogram_rollup over the same rows, and
    percentiles read off stream-built merged vectors work unchanged —
    batch and streaming percentile rollups are one machinery."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import functions as F

    from nntsc_spark.operators.rollup import (
        histogram_percentile,
        histogram_rollup,
        merged_histogram_agg,
    )
    from nntsc_spark.streaming.windowed import WatermarkedRollup

    raw = tmp_path / "raw"
    raw.mkdir()
    rows = [
        {"stream_id": s, "timestamp": 600 + 13 * i, "value": float((7 * i + s) % 90)}
        for s in (1, 2) for i in range(40)
    ]
    (raw / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    # a far-future row pushes the watermark so every data bin finalizes
    late = [{"stream_id": 1, "timestamp": 99_000, "value": 1.0}]
    p = raw / "b.json"
    p.write_text("\n".join(_json.dumps(r) for r in late))
    t = _time.time() + 10
    os.utime(p, (t, t))

    nbins, lo, hi = 32, 0.0, 96.0
    wr = WatermarkedRollup(
        spark,
        str(raw),
        "stream_id long, timestamp long, value double",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        binsize=300,
        delay=300,
        hist_spec=("value", lo, hi, nbins),
    )
    wr.run_available()
    wr.run_available()  # flush batch applies the advanced watermark

    streamed = {
        (r.stream_id, r.binstart): list(r.hist_value)
        for r in wr.finalized().collect()
    }
    fact = spark.createDataFrame(
        [(r["stream_id"], r["timestamp"], r["value"]) for r in rows],
        "stream_id long, timestamp long, value double",
    )
    batch = {
        (r.stream_id, r.binstart): list(r.hist)
        for r in histogram_rollup(fact, 300, "value", lo, hi, nbins).collect()
    }
    assert set(batch).issubset(set(streamed))
    for k, h in batch.items():
        assert streamed[k] == h, k
    # percentiles off the stream-built vectors, merged per stream
    merged = (
        wr.finalized()
        .where(F.col("binstart") < 90_000)
        .groupBy("stream_id")
        .agg(merged_histogram_agg("hist_value", nbins).alias("hist"))
        .select(
            "stream_id",
            histogram_percentile("hist", lo, hi, 0.5).alias("p50"),
        )
    )
    for r in merged.collect():
        exact = sorted(
            x["value"] for x in rows if x["stream_id"] == r.stream_id
        )
        import math
        want = exact[max(0, math.ceil(0.5 * len(exact)) - 1)]
        assert abs(r.p50 - want) <= (hi - lo) / nbins + 1e-9


def test_streaming_anomaly_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState anomaly scorer: the EW mean/variance
    learned in batch 1 scores batch 2's spike (state survived the
    micro-batch boundary), warmup rows are NULL, and a restart-free
    two-batch run equals the same recursion replayed in plain Python."""
    import math

    from nntsc_spark.streaming.anomaly import streaming_anomaly_scores

    src = tmp_path / "events"
    src.mkdir()
    chk = str(tmp_path / "chk")
    out = tmp_path / "scores"
    schema = "stream_id long, timestamp long, value double"

    def run_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(
                    ("stream_id", "timestamp", "value"), r))) + "\n")
        q = (
            streaming_anomaly_scores(
                spark.readStream.schema(schema).json(str(src)),
                alpha=0.25, nsigma=3.0, min_points=5)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    base = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8]
    b1 = [(1, 1000 + i, v) for i, v in enumerate(base)]
    run_batch("b1.json", b1)
    b2 = [(1, 2000, 10.1), (1, 2001, 99.0), (1, 2002, 10.0)]
    run_batch("b2.json", b2)

    got = {r.timestamp: r for r in spark.read.parquet(str(out)).collect()}
    assert len(got) == len(b1) + len(b2)
    # warmup: first 5 observations carry NULL flag/score
    assert all(got[1000 + i].is_anomaly is None for i in range(5))
    # the batch-2 spike is flagged off batch-1 state; neighbors are not
    assert got[2001].is_anomaly and got[2001].score > 3.0
    assert got[2000].is_anomaly is False and got[2002].is_anomaly is False

    # replay the recursion in plain Python: streaming == batch-replayed
    mean, var, n = 0.0, 0.0, 0
    for ts, x in [(t, v) for _, t, v in b1] + [(t, v) for _, t, v in b2]:
        if n >= 5:
            sd = math.sqrt(var) if var > 0 else 0.0
            score = round((x - mean) / sd, 4) if sd > 0 else None
        else:
            score = None
        delta = x - mean if n else 0.0
        incr = 0.25 * delta
        if n:
            mean, var = mean + incr, 0.75 * (var + delta * incr)
        else:
            mean, var = x, 0.0
        n += 1
        assert got[ts].ewma == round(mean, 4), ts
        assert got[ts].score == score, ts


# ---------------------------------------------------------------------------
# Streaming count-min maintenance (streaming/sketches.py)
# ---------------------------------------------------------------------------


def test_streaming_cms_batches_merge_to_whole_and_retry_idempotent(
    spark, tmp_path
):
    """Two epochs' sketches summed == the one-shot batch sketch of the
    union (the merge-anywhere contract), and re-running an epoch (a
    foreachBatch retry) changes nothing."""
    from nntsc_spark.pipeline.sketches import cms_build
    from nntsc_spark.streaming.sketches import SketchMaintainer

    words = ["spark", "scan", "join", "agg", "sort", "row"]
    rows = [(words[i % len(words)],) for i in range(300)]
    all_toks = spark.createDataFrame(rows, "tok string")
    b1 = spark.createDataFrame(rows[:180], "tok string")
    b2 = spark.createDataFrame(rows[180:], "tok string")

    sm = SketchMaintainer(spark, str(tmp_path / "cms"), depth=3, width=32)
    sm.process_batch(b1, 0)
    sm.process_batch(b2, 1)
    whole = {
        (r.row, r.bucket): r.cnt
        for r in cms_build(all_toks, "tok", 3, 32).collect()
    }
    got = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert got == whole

    sm.process_batch(b2, 1)  # retry: same epoch, same partition
    again = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert again == whole

    # as_of_batch serves exactly the committed-epoch prefix (the
    # torn-read escape hatch shared by every maintainer serve path)
    from nntsc_spark.pipeline.sketches import cms_build as _cb

    prefix = {
        (r.row, r.bucket): r.cnt for r in _cb(b1, "tok", 3, 32).collect()
    }
    assert {
        (r.row, r.bucket): r.cnt
        for r in sm.merged(as_of_batch=0).collect()
    } == prefix

    est = {
        r.tok: r.cms_cnt
        for r in sm.estimate(all_toks.select("tok").distinct()).collect()
    }
    exact = {
        r.tok: r.c
        for r in all_toks.groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    assert all(est[t] >= exact[t] for t in exact)


def test_streaming_cms_compaction_preserves_estimates(spark, tmp_path):
    """Folding per-batch partitions into the batch=-1 sentinel leaves
    the merged sketch (and so every estimate) identical."""
    from nntsc_spark.streaming.sketches import SketchMaintainer

    sm = SketchMaintainer(spark, str(tmp_path / "cms"), depth=3, width=32)
    for i in range(4):
        sm.process_batch(
            spark.createDataFrame([(f"t{j % 5}",) for j in range(50)], "tok string"),
            i,
        )
    before = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert sm.compact()
    import glob

    assert glob.glob(str(tmp_path / "cms" / "batch=-1"))
    assert not glob.glob(str(tmp_path / "cms" / "batch=[0-9]*"))
    after = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert after == before


def test_streaming_cms_attach_file_stream(spark, tmp_path):
    """End-to-end through a real file-source stream with availableNow:
    the maintained sketch equals the batch sketch of everything fed."""
    from nntsc_spark.pipeline.sketches import cms_build
    from nntsc_spark.streaming.sketches import SketchMaintainer

    src = tmp_path / "src"
    rows = [(f"w{i % 7}",) for i in range(200)]
    spark.createDataFrame(rows, "tok string").write.parquet(str(src))
    stream = spark.readStream.schema("tok string").parquet(str(src))

    sm = SketchMaintainer(spark, str(tmp_path / "cms"), depth=3, width=32)
    q = sm.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    whole = {
        (r.row, r.bucket): r.cnt
        for r in cms_build(
            spark.createDataFrame(rows, "tok string"), "tok", 3, 32
        ).collect()
    }
    got = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert got == whole


def test_streaming_hll_batches_merge_to_whole_and_retry_idempotent(
    spark, tmp_path
):
    """Two epochs' registers max-merged == the one-shot batch sketch of
    the union, a foreachBatch retry changes nothing, and the estimate
    tracks the true distinct count."""
    from nntsc_spark.pipeline.sketches import hll_build
    from nntsc_spark.streaming.sketches import HllMaintainer

    rows = [(f"user{i % 400}",) for i in range(1000)]
    whole_df = spark.createDataFrame(rows, "k string")
    b1 = spark.createDataFrame(rows[:600], "k string")
    b2 = spark.createDataFrame(rows[600:], "k string")

    hm = HllMaintainer(spark, str(tmp_path / "hll"), p=10)
    hm.process_batch(b1, 0)
    hm.process_batch(b2, 1)
    whole = {
        (r.register, r.max_rho)
        for r in hll_build(whole_df, "k", p=10).collect()
    }
    assert {
        (r.register, r.max_rho) for r in hm.merged().collect()
    } == whole

    hm.process_batch(b2, 1)  # retry: same epoch, same partition
    assert {
        (r.register, r.max_rho) for r in hm.merged().collect()
    } == whole

    # as_of_batch serves the committed-epoch prefix only (torn-read hatch)
    prefix = {
        (r.register, r.max_rho) for r in hll_build(b1, "k", p=10).collect()
    }
    assert {
        (r.register, r.max_rho)
        for r in hm.merged(as_of_batch=0).collect()
    } == prefix

    est = hm.estimate()
    assert abs(est - 400) / 400 < 0.10


def test_streaming_hll_compaction_preserves_estimate(spark, tmp_path):
    from nntsc_spark.streaming.sketches import HllMaintainer

    hm = HllMaintainer(spark, str(tmp_path / "hll"), p=8)
    for i in range(3):
        hm.process_batch(
            spark.createDataFrame(
                [(f"k{i}-{j}",) for j in range(50)], "k string"
            ),
            i,
        )
    before = hm.estimate()
    assert hm.compact()
    import os

    assert os.path.isdir(str(tmp_path / "hll" / "batch=-1"))
    assert hm.estimate() == before


def test_compaction_horizon_rejects_pre_horizon_as_of(spark, tmp_path):
    """r14 (r13 advice upgrade): once epochs <= H fold into the batch=-1
    sentinel, ``as_of_batch < H`` RAISES instead of silently serving the
    full compacted state as a "prefix".  The horizon marker is written
    atomically with the compacted data and carries forward across
    re-compactions."""
    import pytest

    from nntsc_spark.storage import compaction_horizon
    from nntsc_spark.streaming.sketches import SketchMaintainer

    sm = SketchMaintainer(spark, str(tmp_path / "cms"), depth=3, width=16)
    for i in range(3):
        sm.process_batch(
            spark.createDataFrame(
                [(f"t{j % 4}",) for j in range(30)], "tok string"
            ),
            i,
        )
    full = {(r.row, r.bucket): r.cnt for r in sm.merged().collect()}
    assert sm.compact()
    assert compaction_horizon(tmp_path / "cms") == 2

    # at/above the horizon (and None) stay exact — the compacted state
    # IS the prefix <= 2
    for as_of in (2, 7, None):
        got = {
            (r.row, r.bucket): r.cnt
            for r in sm.merged(as_of_batch=as_of).collect()
        }
        assert got == full
    # below it: the prefix no longer exists -> error naming the horizon
    with pytest.raises(ValueError, match="horizon 2"):
        sm.merged(as_of_batch=1)

    # post-compaction epochs sit above the sentinel and serve as before;
    # a re-compaction folds them in and ADVANCES the carried horizon
    sm.process_batch(
        spark.createDataFrame([("t9",)] * 10, "tok string"), 3
    )
    prefix3 = {
        (r.row, r.bucket): r.cnt
        for r in sm.merged(as_of_batch=3).collect()
    }
    assert sm.compact()
    assert compaction_horizon(tmp_path / "cms") == 3
    assert {
        (r.row, r.bucket): r.cnt for r in sm.merged().collect()
    } == prefix3
    with pytest.raises(ValueError, match="horizon 3"):
        sm.merged(as_of_batch=2)


def test_compaction_horizon_guards_every_maintainer_serve(spark, tmp_path):
    """Every maintainer serve path routes through check_as_of_visible:
    a horizon marker alone (no data needed — the check precedes the
    read) makes a pre-horizon as_of raise on each of them."""
    import pytest

    from nntsc_spark.storage import HORIZON_MARKER
    from nntsc_spark.streaming.canonical import CanonicalMapMaintainer
    from nntsc_spark.streaming.dedup import (
        IncrementalDeduper,
        IncrementalSpanIndex,
    )
    from nntsc_spark.streaming.sketches import HllMaintainer

    def plant(table_dir):
        table_dir.mkdir(parents=True, exist_ok=True)
        (table_dir / HORIZON_MARKER).write_text("5")

    cm = CanonicalMapMaintainer(spark, str(tmp_path / "canon"))
    plant(tmp_path / "canon" / "counts")
    plant(tmp_path / "canon" / "pairs")
    ded = IncrementalDeduper(
        spark, str(tmp_path / "idx"), str(tmp_path / "accepted")
    )
    plant(tmp_path / "accepted")
    idx = IncrementalSpanIndex(
        spark, str(tmp_path / "spanidx"), str(tmp_path / "spans")
    )
    plant(tmp_path / "spans")
    hm = HllMaintainer(spark, str(tmp_path / "hll"))
    plant(tmp_path / "hll")

    for serve in (
        cm.vocab,
        cm.pairs,
        cm.canonical_map,
        ded.corpus,
        idx.spans,
        hm.merged,
    ):
        with pytest.raises(ValueError, match="horizon 5"):
            serve(as_of_batch=4)


@pytest.mark.parametrize("serve", ["cms_merged", "hll_estimate", "vocab"])
def test_maintainer_serves_empty_state_before_first_epoch(
    spark, tmp_path, serve
):
    """A maintainer whose state table has a known schema serves empty
    state before its first epoch commits, instead of PATH_NOT_FOUND."""
    from nntsc_spark.streaming.canonical import CanonicalMapMaintainer
    from nntsc_spark.streaming.sketches import HllMaintainer, SketchMaintainer

    path = str(tmp_path / "state")
    if serve == "cms_merged":
        assert SketchMaintainer(spark, path).merged().count() == 0
    elif serve == "hll_estimate":
        assert HllMaintainer(spark, path).estimate() == 0.0
    else:
        assert CanonicalMapMaintainer(spark, path).vocab().count() == 0


def test_hll_estimate_over_an_empty_epoch_is_zero(spark, tmp_path):
    """An epoch with no rows writes zero registers; the estimate over
    them is 0.0 on the stream side and on the batch side alike."""
    from nntsc_spark.pipeline.sketches import hll_build, hll_estimate
    from nntsc_spark.streaming.sketches import HllMaintainer

    empty = spark.createDataFrame([], "k string")
    hm = HllMaintainer(spark, str(tmp_path / "hll"), p=8)
    hm.process_batch(empty, 0)
    assert hm.estimate() == 0.0
    batch = hll_estimate(hll_build(empty, "k", p=8), p=8).collect()
    assert [r.hll_ndv for r in batch] == [0.0]


def test_span_index_serves_crash_residue_as_empty(spark, tmp_path):
    """A spans partition left holding only an uncommitted ``_temporary/``
    (a writer that died mid-job) reads as zero rows: the serve path uses
    the known schema instead of inferring one from no data files."""
    from nntsc_spark.streaming.dedup import IncrementalSpanIndex

    idx = IncrementalSpanIndex(
        spark, str(tmp_path / "sidx"), str(tmp_path / "spans"), w=3
    )
    (tmp_path / "spans" / "batch=0" / "_temporary").mkdir(parents=True)
    got = idx.spans()
    assert got.count() == 0
    assert got.columns == ["doc_id", "span_start", "span_end", "n_windows"]


def test_streaming_gap_detect_closed_and_open_channels(spark, tmp_path):
    """Gap detector, both channels.  Closed: learns the cadence and
    emits event-time gap bounds at resume.  Open: the processing-time
    timeout emits EXACTLY ONE outage row per silence however many
    micro-batches elapse, and the eventual resume closes it."""
    import time

    from nntsc_spark.streaming.gaps import streaming_gap_detect

    schema = "stream_id long, timestamp long, value double"

    def runner(tag, timeout_ms):
        src = tmp_path / f"ev{tag}"
        src.mkdir()
        out = tmp_path / f"gaps{tag}"
        chk = str(tmp_path / f"chk{tag}")

        def run_batch(name, rows):
            with open(src / name, "w") as f:
                for r in rows:
                    f.write(json.dumps(dict(zip(
                        ("stream_id", "timestamp", "value"), r))) + "\n")
            stream = spark.readStream.schema(schema).json(str(src))
            q = (
                streaming_gap_detect(
                    stream, k=3.0, silence_timeout_ms=timeout_ms
                )
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", str(out))
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        return run_batch, out

    # -- closed channel (timeouts disabled -> purely event-time) --
    run_batch, out = runner("a", None)
    run_batch("b1.json", [(1, t, 1.0) for t in (0, 10, 20, 30)]
              + [(1, 130, 1.0), (2, 0, 1.0), (2, 10, 1.0), (2, 20, 1.0)])
    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 1
    g = rows[0]
    assert (g.stream_id, g.gap_start, g.gap_end, g.open) == (1, 30, 130, False)
    assert g.missed == 9 and abs(g.est_freq - 10.0) < 1e-9
    # (stream 2, in-cadence throughout, emitted nothing)

    # -- open channel: one LIVE query (a processing-time timeout keeps
    # scheduling work, so availableNow would never self-terminate) --
    src = tmp_path / "evb"
    src.mkdir()
    out = tmp_path / "gapsb"

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(
                    ("stream_id", "timestamp", "value"), r))) + "\n")

    def snap():
        try:
            return spark.read.parquet(str(out)).collect()
        except Exception:
            return []

    def wait_for(pred, timeout=90):
        t0 = time.time()
        while time.time() - t0 < timeout:
            rows = snap()
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"streaming condition not met; have {snap()}")

    write("b1.json", [(2, t, 1.0) for t in (0, 10, 20)])
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        streaming_gap_detect(stream, k=3.0, silence_timeout_ms=1500)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "chkb"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # silence past the timeout -> exactly one open-outage row
        wait_for(lambda rs: any(r.open for r in rs))
        opens = [r for r in snap() if r.stream_id == 2 and r.open]
        assert [(r.gap_start, r.gap_end) for r in opens] == [(20, None)]
        # more silent wall time must NOT re-report the same outage
        time.sleep(2.5)
        assert len([r for r in snap() if r.open]) == 1
        # resumption closes the outage with real event-time bounds
        write("b2.json", [(2, 500, 1.0)])
        wait_for(lambda rs: any(r.stream_id == 2 and not r.open
                                for r in rs))
        closed = [r for r in snap() if r.stream_id == 2 and not r.open]
        assert [(r.gap_start, r.gap_end) for r in closed] == [(20, 500)]
        # the first outage is reported once; if the resumed stream has
        # since gone silent past the timeout, its second outage opens
        # at 500 -- a correct row, whenever the host lets it land
        opens = [(r.gap_start, r.gap_end) for r in snap() if r.open]
        assert opens.count((20, None)) == 1
        assert set(opens) <= {(20, None), (500, None)}
        assert len(opens) == len(set(opens))
    finally:
        q.stop()


def test_streaming_gap_detect_ignores_late_and_duplicate_arrivals():
    """A whole micro-batch arriving behind a previous one must neither
    rewind last_seen nor feed non-positive deltas into the cadence —
    either would fabricate the next gap (pure-function check)."""
    import pandas as pd

    from nntsc_spark.streaming.gaps import _make_gap_fn

    class FakeState:
        def __init__(self):
            self._v = None

        exists = property(lambda s: s._v is not None)
        hasTimedOut = property(lambda s: False)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

    fn = _make_gap_fn(3.0, 0.3, None)
    st = FakeState()
    list(fn((1,), [pd.DataFrame({"timestamp": [0, 10, 20, 30]})], st))
    late = list(fn((1,), [pd.DataFrame({"timestamp": [5, 15, 30]})], st))
    assert late[0].empty
    assert st.get[0] == 30 and abs(st.get[1] - 10.0) < 1e-9
    resumed = list(fn((1,), [pd.DataFrame({"timestamp": [130]})], st))
    row = list(resumed[0].itertuples(index=False))[0]
    assert (row.stream_id, row.gap_start, row.gap_end, row.missed) == (
        1, 30, 130, 9,
    )


def test_streaming_gap_detect_false_positive_timeout_rearms():
    """A processing-time timeout that fires on late/backfilled data (the
    resume arrives IN cadence) must not disarm the open-outage channel:
    the in-cadence resume emits a retraction close row (missed=0), resets
    the reported flag, and re-arms the timeout so the NEXT real outage
    still raises its open=True alert (advice r9, gaps.py)."""
    import pandas as pd

    from nntsc_spark.streaming.gaps import _make_gap_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.timed_out = False
            self.armed = []

        exists = property(lambda s: s._v is not None)
        hasTimedOut = property(lambda s: s.timed_out)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            self.armed.append(ms)

    fn = _make_gap_fn(3.0, 0.3, 1500)
    st = FakeState()
    # learn cadence ~10s
    list(fn((1,), [pd.DataFrame({"timestamp": [0, 10, 20, 30]})], st))
    # the timeout fires: one open=True row, reported=1, NOT re-armed
    st.timed_out = True
    opened = list(fn((1,), [], st))
    row = list(opened[0].itertuples(index=False))[0]
    assert row.open and row.gap_start == 30 and pd.isna(row.gap_end)
    assert st.get[3] == 1
    n_armed = len(st.armed)
    # an IN-cadence arrival (delta=10 <= 3*10): false positive.  Must
    # emit the retraction close row, reset reported, and re-arm.
    st.timed_out = False
    resumed = list(fn((1,), [pd.DataFrame({"timestamp": [40]})], st))
    row = list(resumed[0].itertuples(index=False))[0]
    assert (row.gap_start, row.gap_end, row.missed, row.open) == (
        30, 40, 0, False,
    )
    assert st.get[3] == 0
    assert len(st.armed) == n_armed + 1
    # ...and a later REAL outage still raises its open alert
    st.timed_out = True
    reopened = list(fn((1,), [], st))
    row = list(reopened[0].itertuples(index=False))[0]
    assert row.open and row.gap_start == 40


def test_ivfpq_index_maintainer_streams_code_appends_exactly_once(
    spark, tmp_path
):
    """Streaming IVFADC maintenance (r9 verdict task #7's streaming
    half): a vector stream PQ-encodes into a built codes index through
    foreachBatch; queries then see seed + streamed vectors, and a
    crash-retry of the same epoch does not duplicate code rows."""
    from nntsc_spark.pipeline.similarity import (
        ivfpq_build_index,
        ivfpq_query_index,
    )
    from nntsc_spark.streaming.similarity import IvfPqIndexMaintainer

    dims = 8
    seed = spark.createDataFrame(
        [(i, [1.0 * (i % 2), 1.0 - (i % 2)] + [0.01 * i] * (dims - 2))
         for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(seed, path, nlist=2, m=2, ks=4, dims=dims)

    src = tmp_path / "vecs"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        for i in range(4):
            f.write(json.dumps(
                {"vec_id": 100 + i,
                 "embedding": [1.0, 0.0] + [0.02 * i] * (dims - 2)}
            ) + "\n")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    maint = IvfPqIndexMaintainer(path)
    q = maint.start_stream(stream, str(tmp_path / "chk"))
    q.awaitTermination(120)
    assert maint.last_result["n_appended"] == 4
    assert not maint.drift_flagged  # same distribution as the seed
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == 16 + 4
    # streamed vectors are queryable against the codes table (query
    # vectors come from a raw table, exactly the production contract)
    allvecs = seed.unionByName(spark.createDataFrame(
        [(100 + i, [1.0, 0.0] + [0.02 * i] * (dims - 2)) for i in range(4)],
        "vec_id long, embedding array<double>",
    ))
    res = ivfpq_query_index(allvecs, path, [100], k=3, nprobe=1).collect()
    assert res and all(r.query_id == 100 for r in res)
    # crash-retry of the SAME epoch overwrites its own partitions
    batch = spark.createDataFrame(
        [(100 + i, [1.0, 0.0] + [0.02 * i] * (dims - 2)) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    maint.process_batch(batch, 0)
    assert spark.read.parquet(f"{path}/codes").count() == 20
    n_stats = spark.read.parquet(f"{path}/stats").count()
    maint.process_batch(batch.limit(0), 5)
    assert spark.read.parquet(f"{path}/stats").count() == n_stats


def test_canonical_stream_equals_batch(spark, tmp_path):
    """N streamed epochs of token batches yield EXACTLY the batch
    recompute's canonical map over the concatenated corpus (counts fold,
    pairs decompose by arrival order: novel x novel + novel x prior),
    and re-running an epoch (a foreachBatch retry / double-run) changes
    nothing — both state tables are deterministic overwrites of the
    epoch's own partition."""
    from nntsc_spark.pipeline.dedup import (
        edit_distance_pairs,
        fuzzy_canonical_map,
    )
    from nntsc_spark.streaming.canonical import CanonicalMapMaintainer

    # three epochs: repeats within and across epochs, typo variants that
    # pair within an epoch (cat/cap), across epochs (crane/crate,
    # spark/spork), short tokens for the deletion stratum, and a
    # singleton ('zebra') with no neighbours at all
    epochs = [
        ["cat", "cat", "cap", "crane", "spark", "spark", "a"],
        ["crate", "cat", "spork", "ab", "a"],
        ["zebra", "crate", "crate", "cap", "b"],
    ]

    def frame(toks):
        return spark.createDataFrame([(t,) for t in toks], "tok string")

    cm = CanonicalMapMaintainer(spark, str(tmp_path / "canon"))
    for i, toks in enumerate(epochs):
        cm.process_batch(frame(toks), i)

    all_toks = frame([t for e in epochs for t in e])
    vocab = all_toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    batch_pairs = edit_distance_pairs(vocab, key_col="tok", max_dist=2, q=2)
    want_pairs = {
        (r.s1, r.s2, r.dist) for r in batch_pairs.collect()
    }
    want_map = {
        (r.tok, r.canonical, r.canonical_n)
        for r in fuzzy_canonical_map(vocab, batch_pairs).collect()
    }

    got_pairs = {(r.s1, r.s2, r.dist) for r in cm.pairs().collect()}
    assert got_pairs == want_pairs
    got_map = {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map().collect()
    }
    assert got_map == want_map

    # as_of_batch serves exactly the committed-epoch prefix: the torn-read
    # escape hatch (a read concurrent with an in-flight epoch's non-atomic
    # overwrite filters to batch <= the last committed id) must equal the
    # batch recompute over those epochs only
    prefix = frame([t for e in epochs[:2] for t in e])
    pvocab = prefix.groupBy("tok").agg(
        F.count("*").cast("long").alias("n")
    )
    ppairs = edit_distance_pairs(pvocab, key_col="tok", max_dist=2, q=2)
    want_prefix = {
        (r.tok, r.canonical, r.canonical_n)
        for r in fuzzy_canonical_map(pvocab, ppairs).collect()
    }
    got_prefix = {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map(as_of_batch=1).collect()
    }
    assert got_prefix == want_prefix
    assert {(r.s1, r.s2, r.dist) for r in cm.pairs(as_of_batch=1).collect()} == {
        (r.s1, r.s2, r.dist) for r in ppairs.collect()
    }

    # each unordered pair is discovered in exactly ONE epoch (the
    # arrival-order decomposition) — no distinct() needed to hold
    raw = spark.read.schema(
        "s1 string, s2 string, dist int, batch int"
    ).parquet(str(tmp_path / "canon" / "pairs"))
    assert raw.count() == len(want_pairs)

    # double-run idempotence: replay the middle epoch (fresh reads —
    # the overwrite invalidates the earlier frame's file listing)
    cm.process_batch(frame(epochs[1]), 1)
    assert {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map().collect()
    } == want_map
    assert (
        spark.read.schema("s1 string, s2 string, dist int, batch int")
        .parquet(str(tmp_path / "canon" / "pairs"))
        .count()
        == len(want_pairs)
    )


def test_canonical_compaction_and_file_stream(spark, tmp_path):
    """End-to-end through a real file-source stream (availableNow), then
    compaction: the served map equals the batch recompute before and
    after folding both state tables into the batch=-1 sentinel."""
    from nntsc_spark.pipeline.dedup import (
        edit_distance_pairs,
        fuzzy_canonical_map,
    )
    from nntsc_spark.streaming.canonical import CanonicalMapMaintainer

    toks = ["hash", "hush", "mash", "join", "jobn", "scan", "scan", "x"]
    src = tmp_path / "src"
    spark.createDataFrame([(t,) for t in toks], "tok string").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("tok string").parquet(str(src))

    cm = CanonicalMapMaintainer(spark, str(tmp_path / "canon"))
    q = cm.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    vocab = (
        spark.createDataFrame([(t,) for t in toks], "tok string")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    want = {
        (r.tok, r.canonical, r.canonical_n)
        for r in fuzzy_canonical_map(
            vocab, edit_distance_pairs(vocab, key_col="tok", max_dist=2, q=2)
        ).collect()
    }
    assert {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map().collect()
    } == want

    import glob

    # feed a couple more epochs directly so there is something to fold
    cm.process_batch(
        spark.createDataFrame([("hash",), ("josh",)], "tok string"), 7
    )
    before = {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map().collect()
    }
    assert cm.compact()
    assert glob.glob(str(tmp_path / "canon" / "counts" / "batch=-1"))
    assert not glob.glob(str(tmp_path / "canon" / "counts" / "batch=[0-9]*"))
    after = {
        (r.tok, r.canonical, r.canonical_n)
        for r in cm.canonical_map().collect()
    }
    assert after == before


def test_incremental_dedup_as_of_serves_without_schema_inference(spark, tmp_path):
    """r13 advice: ``corpus(as_of_batch=N)`` must not plan by sampling
    data-file footers — the in-flight batch partition being non-atomically
    overwritten can hold truncated garbage mid-write.  The schema sidecar
    written at first commit lets the read plan with an explicit schema, so
    the batch<=N partition filter prunes the torn directory before any of
    its files is opened.  Here batch=99 holds a zero-byte 'parquet' file:
    footer inference against it would throw; the as_of read never touches
    it."""
    from nntsc_spark.streaming.dedup import IncrementalDeduper

    ded = IncrementalDeduper(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words again today")],
        "doc_id long, text string",
    )
    ded.process_batch(docs, batch_id=0)
    # the sidecar exists and is invisible to Spark's file index
    assert (tmp_path / "corpus" / "_accepted_schema.json").exists()

    # simulate a torn in-flight overwrite: a partition directory whose
    # only file is truncated garbage
    torn = tmp_path / "corpus" / "batch=99"
    torn.mkdir()
    (torn / "part-00000.snappy.parquet").write_bytes(b"")

    got = ded.corpus(as_of_batch=0)
    assert {r.doc_id for r in got.collect()} == {1, 2}
    assert got.schema["text"].dataType.simpleString() == "string"


def test_accepted_schema_sidecar_follows_evolution(spark, tmp_path):
    """r14 advice: the schema sidecar is revalidated on every commit.  A
    batch ADDING a column widens the sidecar to the union (older
    partitions serve the new column as null); a batch RETYPING a column
    fails the commit loudly instead of leaving corpus() to plan with a
    stale schema."""
    import pytest as _pytest

    from nntsc_spark.streaming.dedup import IncrementalDeduper

    ded = IncrementalDeduper(
        spark, str(tmp_path / "idx"), str(tmp_path / "corpus")
    )
    ded.process_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        batch_id=0,
    )
    # batch 1 adds a column: sidecar widens, corpus serves it (null for
    # the pre-evolution partition)
    ded.process_batch(
        spark.createDataFrame(
            [(2, "totally different words again today", "en")],
            "doc_id long, text string, lang string",
        ),
        batch_id=1,
    )
    got = ded.corpus(as_of_batch=1)
    assert "lang" in got.columns
    rows = {r.doc_id: r.lang for r in got.collect()}
    assert rows == {1: None, 2: "en"}
    # batch 2 retypes doc_id: unservable across partitions -> loud
    # failure BEFORE any data file with the conflicting type lands
    with _pytest.raises(ValueError, match="retyped"):
        ded.process_batch(
            spark.createDataFrame(
                [("3", "yet another run of fresh words")],
                "doc_id string, text string",
            ),
            batch_id=2,
        )
    import pathlib
    assert not (pathlib.Path(str(ded.out_path)) / "batch=2").exists()
    # the table is still fully servable after the rejected batch
    assert {r.doc_id for r in ded.corpus().collect()} == {1, 2}


def test_ingest_batches_leave_no_persisted_rdds_behind(spark, tmp_path):
    """Per-batch caches are released: after 8 micro-batches with a live
    exporter wired (announce + fan-out + stats), the persisted-RDD count
    stays bounded instead of growing by the dimension and stats caches
    every batch.  A JVM GC lets the ContextCleaner free what nothing
    references any more (each batch's localCheckpoint); a cache() the
    batch forgot stays pinned by the CacheManager."""
    import gc
    import time

    from nntsc_spark.export.server import ExportServer

    empty = spark.createDataFrame([], "stream_id long, timestamp long")
    srv = ExportServer(spark, {"amp-icmp": {"fact": empty, "streams": empty}})
    sc = spark.sparkContext._jsc.sc()
    ing = CollectionIngestor(
        spark,
        parser=lambda df: df,
        unique_cols=["source", "target"],
        fact_path=str(tmp_path / "fact"),
        streams_path=str(tmp_path / "streams"),
        stats_path=str(tmp_path / "stats"),
        collection="amp-icmp",
        exporter=srv,
    )
    try:
        base = sc.getPersistentRDDs().size()
        for b in range(8):
            raw = spark.createDataFrame(
                [("amp", f"d{(3 * b + i) % 7}", 100 * b + i, float(i))
                 for i in range(6)],
                "source string, target string, timestamp long, value double",
            )
            ing.process_batch(raw, b)
        for _ in range(50):
            gc.collect()
            spark._jvm.System.gc()
            if sc.getPersistentRDDs().size() - base <= 2:
                break
            time.sleep(0.2)
        assert sc.getPersistentRDDs().size() - base <= 2
    finally:
        srv.stop()
