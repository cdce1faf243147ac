"""Streaming tests (SURVEY.md §5.2.5): end-to-end ingest through the
file-source stream, batch/stream parity for windowed aggregations, and
the stateful sessionization operator.
"""

from __future__ import annotations

import datetime as dt
import json

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mb8600_clickhouse_spark.plans import ManifestTable
from mb8600_clickhouse_spark.streaming import ingest, windows
from mb8600_clickhouse_spark.tables import load_tables


def _payload_line(modem: str, ts: float, ds: str, us: str, uptime: str, ok: bool = True) -> str:
    envelope = {
        "GetMultipleHNAPsResponse": {
            "GetMultipleHNAPsResult": "OK" if ok else "UNAUTHORIZED",
            "GetMotoStatusStartupSequenceResponse": {
                "MotoConnConfigurationFileComment": "bc1000.cm"
            },
            "GetMotoStatusConnectionInfoResponse": {"MotoConnSystemUpTime": uptime},
            "GetMotoStatusDownstreamChannelInfoResponse": {"MotoConnDownstreamChannel": ds},
            "GetMotoStatusUpstreamChannelInfoResponse": {"MotoConnUpstreamChannel": us},
            "GetMotoStatusSoftwareResponse": {"StatusSoftwareSfVer": "8600-19.2.18"},
        }
    }
    return json.dumps(
        {
            "modem_name": modem,
            "payload": json.dumps(envelope),
            "scrape_latency": 0.25,
            "ts": ts,
        }
    )


DS = "1^Locked^QAM256^3^495.0^1.5^43.2^17^4^x|+|2^Locked^OFDM PLC^48^722.0^0.9^12.0^5^1^x"
US = "1^Locked^SC-QAM^1^6400.0^35.6^45.0^x"


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    # two scrape files, one bad-status record that the gate must drop
    (d / "batch0.json").write_text(
        _payload_line("MB8600", 1748736000.9, DS, US, "7days 03h:21m:09s") + "\n"
    )
    (d / "batch1.json").write_text(
        _payload_line("MB8600-attic", 1748736010.2, DS, US, "11h:02m:33s")
        + "\n"
        + _payload_line("MB8600", 1748736020.5, DS, US, "45m:10s", ok=False)
        + "\n"
    )
    return str(d)


def _stream_to_table(spark, parsed, table, ckpt):
    q = ingest.write_docsis_stream_manifest(parsed, table, ckpt, available_now=True)
    q.awaitTermination(120)
    return ManifestTable(table)


class TestIngestEndToEnd:
    def test_stream_parses_writes_prunable_table(self, spark, landing, tmp_path):
        table = str(tmp_path / "docsis_out")
        # one landing file per micro-batch: each scrape commits its own files
        t = _stream_to_table(
            spark,
            ingest.parse_payloads(
                ingest.read_payload_stream(spark, landing, max_files_per_trigger=1)
            ),
            table,
            str(tmp_path / "ckpt"),
        )

        rows = {r["modem_name"]: r for r in t.read(spark).collect()}
        # bad-status record gated out (mb8600.py:354-360)
        assert set(rows) == {"MB8600", "MB8600-attic"}

        r = rows["MB8600"]
        assert r["modem_uptime"] == 7 * 86400 + 3 * 3600 + 21 * 60 + 9
        assert r["modem_config_filename"] == "bc1000.cm"
        assert r["modem_model"] == "MB8600"
        assert len(r["downstream_channels"]) == 2
        ofdm = r["downstream_channels"][1]
        assert ofdm["snr"] == pytest.approx(12.0 * 2.5)  # OFDM correction applied
        assert r["upstream_channels"][0]["width"] == pytest.approx(6400.0e3)
        # second-precision timestamps (tables.sql:29)
        assert r["timestamp"].microsecond == 0

        # PARTITION BY toDate(timestamp) as manifest min/max skipping: a
        # timestamp range around the first scrape drops the other's file
        ts = r["timestamp"]
        kept = t.prune_files(
            [("timestamp", ">=", ts), ("timestamp", "<", ts + dt.timedelta(seconds=5))]
        )
        assert kept and len(kept) < len(t.snapshot_files())
        got = spark.read.parquet(*kept).select("modem_name").distinct().collect()
        assert [g["modem_name"] for g in got] == ["MB8600"]

    def test_stream_equals_batch_parse(self, spark, landing, tmp_path):
        batch = ingest.parse_payloads(
            spark.read.schema(ingest.PAYLOAD_RECORD_SCHEMA).json(landing)
        )
        t = _stream_to_table(
            spark,
            ingest.parse_payloads(ingest.read_payload_stream(spark, landing)),
            str(tmp_path / "t2"),
            str(tmp_path / "c2"),
        )
        streamed = t.read(spark)
        cols = sorted(batch.columns)
        assert sorted(streamed.columns) == cols
        a = sorted(map(str, batch.select(*cols).collect()))
        b = sorted(map(str, streamed.select(*cols).collect()))
        assert a == b

    def test_restart_does_not_reprocess(self, spark, landing, tmp_path):
        table = str(tmp_path / "t3")
        ckpt = str(tmp_path / "c3")
        for _ in range(2):  # second start: checkpoint says all files done
            t = _stream_to_table(
                spark,
                ingest.parse_payloads(ingest.read_payload_stream(spark, landing)),
                table,
                ckpt,
            )
        assert t.read(spark).count() == 2


def _events(spark):
    return load_tables(spark, "/root/testdata/sf0.001")["events"]


def _run_stream(spark, events_dir, transform, tmp_path, name):
    stream_src = spark.readStream.schema(
        spark.read.parquet(events_dir).schema
    ).parquet(events_dir)
    q = (
        transform(stream_src)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


class TestBatchStreamParity:
    """The same windowed aggregation, run as a batch query and as a
    micro-batch stream over identical data, must agree (SURVEY.md
    §5.2.5). Events are re-written as parquet so the stream source sees
    plain micro-precision timestamps."""

    @pytest.fixture()
    def events_dir(self, spark, tmp_path):
        d = str(tmp_path / "events_pq")
        _events(spark).coalesce(2).write.parquet(d)
        return d

    def _canon(self, df):
        return sorted(map(str, df.collect()))

    def test_tumbling_parity(self, spark, events_dir, tmp_path):
        batch = windows.tumbling_counts(spark.read.parquet(events_dir))
        streamed = _run_stream(
            spark, events_dir, lambda s: windows.tumbling_counts(s), tmp_path, "tumb"
        )
        assert self._canon(batch) == self._canon(streamed)

    def test_sliding_parity(self, spark, events_dir, tmp_path):
        batch = windows.sliding_avg(spark.read.parquet(events_dir))
        streamed = _run_stream(
            spark, events_dir, lambda s: windows.sliding_avg(s), tmp_path, "slide"
        )
        assert self._canon(batch) == self._canon(streamed)

    def test_session_window_parity(self, spark, events_dir, tmp_path):
        batch = windows.session_windows(spark.read.parquet(events_dir))
        streamed = _run_stream(
            spark, events_dir, lambda s: windows.session_windows(s), tmp_path, "sess"
        )
        assert self._canon(batch) == self._canon(streamed)

    def test_session_window_agrees_with_lag_based_batch(self, spark, events_dir):
        """Native session_window must produce the same per-user session
        COUNT as the Q36 lag-gap formulation."""
        from pyspark.sql import Window as W

        ev = spark.read.parquet(events_dir)
        native = (
            windows.session_windows(ev)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"))
        )
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        lag_based = (
            ev.withColumn("prev", F.lag("ts").over(w))
            .withColumn(
                "new_s",
                (
                    F.col("prev").isNull()
                    | (F.unix_timestamp("ts") - F.unix_timestamp("prev") > 1800)
                ).cast("int"),
            )
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n_sessions"))
        )
        a = {r["user_id"]: r["n_sessions"] for r in native.collect()}
        b = {r["user_id"]: r["n_sessions"] for r in lag_based.collect()}
        assert a == b


class TestStreamingDedup:
    def test_dedup_within_watermark(self, spark, tmp_path):
        src_dir = str(tmp_path / "dup_events")
        ev = _events(spark).limit(200)
        ev.union(ev).write.parquet(src_dir)  # every event exactly twice
        stream_src = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        q = (
            windows.dedup_within_watermark(stream_src, ["event_id"])
            .writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("dedup_stream")
        assert got.count() == 200
        assert got.select("event_id").distinct().count() == 200


class TestStatefulSessionization:
    def test_sessions_match_native_window(self, spark, tmp_path):
        """applyInPandasWithState sessionization must emit exactly the
        CLOSED sessions: those the native batch session_window finds,
        minus each user's final (still-open-at-watermark) session."""
        src_dir = str(tmp_path / "sess_events")
        ev = _events(spark).filter("user_id < 20")
        ev.coalesce(1).write.parquet(src_dir)

        stream_src = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        q = (
            windows.sessionize_with_state(stream_src, gap_seconds=1800)
            .writeStream.format("memory")
            .queryName("custom_sess")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.table("custom_sess").collect()
        }

        native = windows.session_windows(spark.read.parquet(src_dir), gap="30 minutes")
        # drop each user's last session (open at end-of-stream; the
        # stream never emits it because no later event / timeout closes
        # it). Convention difference: native session_window's end is
        # last-event + gap; the stateful operator emits the actual
        # last-event time — subtract the gap to compare.
        by_user: dict = {}
        for r in native.collect():
            by_user.setdefault(r["user_id"], []).append(r)
        all_native = set()
        closed_by_gap = set()
        for user, sess in by_user.items():
            sess.sort(key=lambda r: r["session_start"])
            for i, r in enumerate(sess):
                item = (
                    user,
                    r["session_start"],
                    r["session_end"] - dt.timedelta(seconds=1800),
                    r["n_events"],
                )
                all_native.add(item)
                if i < len(sess) - 1:
                    closed_by_gap.add(item)
        # every gap-closed session MUST be emitted; each user's final
        # session MAY also appear (emitted iff the end-of-stream
        # watermark advanced past its event-time timeout) but nothing
        # outside the native session set may ever appear
        assert len(closed_by_gap) > 0
        assert closed_by_gap <= got
        assert got <= all_native


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, tmp_path):
        """Stream-stream inner join (views x purchases per user within
        [-1h, 0]) must equal the same interval join executed in batch."""
        src_dir = str(tmp_path / "ssj_events")
        ev = _events(spark).filter("user_id < 30")
        ev.coalesce(2).write.parquet(src_dir)

        def split(df):
            v = df.filter(F.col("event_type") == "view").select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            p = df.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            return v, p

        cond = (
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") <= F.col("v_ts"))
            & (F.col("p_ts") >= F.col("v_ts") - F.expr("INTERVAL 1 HOUR"))
        )

        bv, bp = split(spark.read.parquet(src_dir))
        batch = bv.join(bp, cond).select("view_id", "purchase_id")

        stream = spark.readStream.schema(
            spark.read.parquet(src_dir).schema
        ).parquet(src_dir)
        sv, sp = split(stream)
        joined = sv.withWatermark("v_ts", "2 hours").join(
            sp.withWatermark("p_ts", "2 hours"), cond
        ).select("view_id", "purchase_id")
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        a = sorted(map(tuple, batch.collect()))
        b = sorted(map(tuple, spark.table("ssj").collect()))
        assert len(a) > 0
        assert a == b


class TestReplayFencingAndCompaction:
    """The exporter's sink (``manifest_epoch_sink``) fences replays at
    commit time, and ``ManifestTable.compact`` is the table's
    ``ORDER BY (modem_name, timestamp)`` (reference tables.sql:30)."""

    @pytest.fixture()
    def parsed(self, spark, landing):
        return ingest.parse_payloads(
            spark.read.schema(ingest.PAYLOAD_RECORD_SCHEMA).json(landing)
        )

    def test_replayed_epoch_reads_once(self, spark, parsed, tmp_path):
        table = str(tmp_path / "fence")
        sink = ingest.manifest_epoch_sink(table)
        t = ManifestTable(table)
        sink(parsed, 7)
        committed = t.latest_version()
        sink(parsed, 7)  # replay
        assert t.latest_version() == committed  # no second commit
        assert t.committed_epochs() == {7}
        assert t.read(spark).count() == 2  # exactly once

    def test_compaction_reduces_files_keeps_data(self, spark, parsed, tmp_path):
        table = str(tmp_path / "compact")
        sink = ingest.manifest_epoch_sink(table)
        for epoch in range(5):  # five commits -> at least five files
            sink(parsed, epoch)
        t = ManifestTable(table)
        before = len(t.snapshot_files())
        want = sorted(map(str, t.read(spark).collect()))
        t.compact(spark, sort_cols=["modem_name", "timestamp"])
        files = t.snapshot_files()
        assert len(files) < before
        assert sorted(map(str, t.read(spark).collect())) == want
        for f in files:  # each output file is sorted on the primary key
            tbl = pq.read_table(f, columns=["modem_name", "timestamp"]).to_pydict()
            keys = list(zip(tbl["modem_name"], tbl["timestamp"]))
            assert keys == sorted(keys)

    def test_compaction_preserves_distinct_epochs(self, spark, parsed, tmp_path):
        """Two same-second scrapes from DIFFERENT micro-batches are
        distinct observations; compaction must not merge them."""
        table = str(tmp_path / "epochs")
        sink = ingest.manifest_epoch_sink(table)
        sink(parsed, 1)
        sink(parsed, 1)  # replay of epoch 1
        sink(parsed, 2)  # a distinct scrape epoch
        t = ManifestTable(table)
        before = t.read(spark).count()
        assert before == 4  # 2 rows x 2 real epochs; replay collapsed
        t.compact(spark, sort_cols=["modem_name", "timestamp"])
        assert t.read(spark).count() == before
        assert t.committed_epochs() == {1, 2}  # the ledger survives


class TestIngestRobustness:
    def test_malformed_payloads_dropped_not_crash(self, spark, tmp_path):
        """Garbage JSON, missing envelope fields, and empty channel
        strings must degrade to dropped rows / null fields — never a
        crashed stream (the engine's documented improvement over the
        reference's catch-all discard, mb8600.py:439-441)."""
        d = tmp_path / "dirty"
        d.mkdir()
        lines = [
            # not JSON at all in the payload column
            json.dumps(
                {"modem_name": "M", "payload": "not json {", "scrape_latency": 0.1, "ts": 1748736000.0}
            ),
            # valid JSON, wrong envelope shape
            json.dumps(
                {"modem_name": "M", "payload": "{\"Foo\": 1}", "scrape_latency": 0.1, "ts": 1748736001.0}
            ),
            # OK status but empty channel strings and junk uptime
            _payload_line("M-ok", 1748736002.0, "", "", "garbage"),
        ]
        (d / "a.json").write_text("\n".join(lines) + "\n")
        parsed = ingest.parse_payloads(
            spark.read.schema(ingest.PAYLOAD_RECORD_SCHEMA).json(str(d))
        )
        rows = parsed.collect()
        # only the structurally-OK record survives the status gate
        assert [r["modem_name"] for r in rows] == ["M-ok"]
        r = rows[0]
        assert r["modem_uptime"] == 0  # coalesce-0, not int(None) crash
        # empty packed string -> one all-null struct, never an exception
        assert len(r["downstream_channels"]) == 1
        assert r["downstream_channels"][0]["channel_id"] is None


class TestScrapeDedup:
    def test_retry_duplicates_collapse_across_batches(self, spark, tmp_path):
        """The same scrape landed twice (HTTP retry / re-landed file, in
        DIFFERENT micro-batches): the PK dedup keeps one row; a distinct
        scrape of the same modem survives."""
        d = tmp_path / "landing_dup"
        d.mkdir()
        line = _payload_line("MB8600", 1748736000.9, DS, US, "1h:00m:00s")
        (d / "a.json").write_text(line + "\n")
        (d / "b.json").write_text(  # retry dup + one genuinely new scrape
            line + "\n" + _payload_line("MB8600", 1748736010.5, DS, US, "1h:00m:10s")
        )
        t = _stream_to_table(
            spark,
            ingest.dedup_scrapes(
                ingest.parse_payloads(
                    ingest.read_payload_stream(spark, str(d), max_files_per_trigger=1)
                )
            ),
            str(tmp_path / "t_dedup"),
            str(tmp_path / "c_dedup"),
        )
        out = t.read(spark)
        assert out.count() == 2  # not 3
        assert out.select("modem_name", "timestamp").distinct().count() == 2

    def test_batch_input_takes_exact_dedup(self, spark, tmp_path):
        d = tmp_path / "landing_dup_b"
        d.mkdir()
        line = _payload_line("MB8600", 1748736000.9, DS, US, "1h:00m:00s")
        (d / "a.json").write_text(line + "\n" + line + "\n")
        batch = ingest.parse_payloads(
            spark.read.schema(ingest.PAYLOAD_RECORD_SCHEMA).json(str(d))
        )
        assert ingest.dedup_scrapes(batch).count() == 1
