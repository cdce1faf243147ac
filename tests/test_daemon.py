"""The packaged exporter daemon (``python -m mb8600_clickhouse_spark``)
— VERDICT r11 "What's missing" #1: env contract (reference
mb8600.py:77-136 / README.md:13-26), the wired
``format("hnap") -> parse_payloads -> sink`` pipeline end-to-end on
the fake modem, and SIGTERM-driven graceful stop (mb8600.py:445-457)."""

from __future__ import annotations

import json
import logging
import os
import signal
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from mb8600_clickhouse_spark.__main__ import build_query, load_config, main

BASE_ENV = {
    "MODEM_URL": "http://modem.invalid",
    "MODEM_USERNAME": "admin",
    "MODEM_PASSWORD": "motorola",
    "MODEM_FAKE": "1",
    "SCRAPE_DELAY": "1",
}
CH_ENV = {
    "CLICKHOUSE_URL": "http://ch.invalid:8123",
    "CLICKHOUSE_USERNAME": "exporter",
    "CLICKHOUSE_PASSWORD": "hunter2",
    "CLICKHOUSE_DATABASE": "metrics",
}


class TestConfigContract:
    """The reference's _load_env_vars validation, name for name."""

    def test_defaults(self):
        cfg = load_config({**BASE_ENV, **CH_ENV})
        assert cfg["modem_name"] == "MB8600"
        assert cfg["clickhouse_table"] == "docsis"
        assert cfg["queue_limit"] == 1000
        assert cfg["log_level"] == "INFO"

    def test_scrape_delay_code_default_is_10(self):
        # the reference CODE defaults to 10 (mb8600.py:109); its README
        # documents 30 — the code is the contract (SURVEY §2.D1)
        env = {**BASE_ENV, **CH_ENV}
        env.pop("SCRAPE_DELAY")
        assert load_config(env)["scrape_delay"] == 10

    @pytest.mark.parametrize(
        "missing",
        ["MODEM_URL", "MODEM_USERNAME", "MODEM_PASSWORD",
         "CLICKHOUSE_URL", "CLICKHOUSE_DATABASE"],
    )
    def test_missing_required_exits_1(self, missing):
        env = {**BASE_ENV, **CH_ENV}
        env.pop(missing)
        with pytest.raises(SystemExit) as e:
            load_config(env)
        assert e.value.code == 1

    def test_invalid_ints_exit_1(self):
        for k, v in (
            ("SCRAPE_DELAY", "0"),
            ("SCRAPE_DELAY", "soon"),
            ("CLICKHOUSE_QUEUE_LIMIT", "10"),
        ):
            with pytest.raises(SystemExit):
                load_config({**BASE_ENV, **CH_ENV, k: v})
        with pytest.raises(SystemExit):
            load_config({**BASE_ENV, **CH_ENV, "LOG_LEVEL": "LOUD"})

    def test_table_path_waives_clickhouse_vars(self):
        cfg = load_config({**BASE_ENV, "DOCSIS_TABLE_PATH": "/tmp/t"})
        assert cfg["table_path"] == "/tmp/t"


# -- local HTTP "ClickHouse" ------------------------------------------------
_received: list[bytes] = []
_lock = threading.Lock()


class _ChHandler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802 (http.server API)
        body = self.rfile.read(int(self.headers["Content-Length"]))
        with _lock:
            _received.append(body)
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass


@pytest.fixture()
def ch_server():
    _received.clear()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ChHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _wait(pred, timeout=60.0):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(0.5)
    return False


class TestDaemonEndToEnd:
    def test_fake_modem_to_manifest_table(self, spark, tmp_path, caplog):
        """CLI path end-to-end: fake modem polls -> parse -> exactly-once
        ManifestTable; one JSON progress line per micro-batch; graceful
        stop; rows land with the docsis shape."""
        caplog.set_level(logging.INFO, logger="mb8600_clickhouse_spark")
        env = {
            **BASE_ENV,
            "DOCSIS_TABLE_PATH": str(tmp_path / "docsis"),
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
        stop = threading.Event()
        rc: list[int] = []
        t = threading.Thread(
            target=lambda: rc.append(
                main(env=env, spark=spark, stop_event=stop,
                     install_signals=False)
            )
        )
        t.start()
        from mb8600_clickhouse_spark.plans import ManifestTable

        table = ManifestTable(str(tmp_path / "docsis"))

        def has_rows():
            try:
                return table.read(spark).count() >= 1
            except Exception:
                return False

        def progress():
            msgs = (r.getMessage() for r in caplog.records)
            return [json.loads(m) for m in msgs if m.startswith("{")]

        assert _wait(has_rows), "no rows landed in the manifest table"
        assert _wait(progress), "no progress line logged"
        stop.set()
        t.join(timeout=120)
        assert not t.is_alive() and rc == [0]
        lines = progress()
        ids = [p["batchId"] for p in lines]
        assert ids == sorted(set(ids))  # one line per batch, in order
        first = lines[0]
        assert first["numInputRows"] >= 1
        assert first["durationMs"]["addBatch"] >= 0
        df = table.read(spark)
        cols = set(df.columns)
        assert {"modem_name", "modem_uptime", "downstream_channels",
                "upstream_channels", "timestamp"} <= cols
        assert df.filter(df.modem_name == "MB8600").count() == df.count()

    def test_fake_modem_to_clickhouse_sink(self, spark, tmp_path, ch_server):
        """CLI path with the reference's real egress: executor POSTs of
        TabSeparated INSERT bodies arrive at the (local) ClickHouse."""
        env = {
            **BASE_ENV,
            **CH_ENV,
            "CLICKHOUSE_URL": ch_server,
            "CLICKHOUSE_TABLE": "docsis_buffer",
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
        stop = threading.Event()
        rc: list[int] = []
        t = threading.Thread(
            target=lambda: rc.append(
                main(env=env, spark=spark, stop_event=stop,
                     install_signals=False)
            )
        )
        t.start()
        assert _wait(lambda: len(_received) >= 1), "no INSERT arrived"
        stop.set()
        t.join(timeout=120)
        assert not t.is_alive() and rc == [0]
        body = _received[0].decode()
        assert body.count("\t") >= 8  # 9-column docsis TSV rows

    def test_sigterm_stops_the_daemon(self, spark, tmp_path):
        """The reference's SIGTERM contract: the handler sets the stop
        event and the daemon exits 0 (mb8600.py:448-457). main() runs in
        the MAIN thread (signal handlers require it); a timer thread
        delivers the signal once the stream is up."""
        env = {
            **BASE_ENV,
            "DOCSIS_TABLE_PATH": str(tmp_path / "docsis"),
            "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        }
        timer = threading.Timer(
            8.0, lambda: os.kill(os.getpid(), signal.SIGTERM)
        )
        timer.daemon = True
        timer.start()
        prev = signal.getsignal(signal.SIGTERM)
        try:
            rc = main(env=env, spark=spark, install_signals=True)
        finally:
            signal.signal(signal.SIGTERM, prev)
        assert rc == 0

    def test_build_query_wires_hnap_source(self, spark, tmp_path):
        """build_query returns a live StreamingQuery on format('hnap')."""
        cfg = load_config({**BASE_ENV, "DOCSIS_TABLE_PATH": str(tmp_path / "t")})
        q = build_query(spark, cfg, str(tmp_path / "ck"))
        try:
            assert q.isActive
        finally:
            q.stop()
