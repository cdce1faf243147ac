"""``python -m mb8600_clickhouse_spark`` — the packaged exporter daemon
(round 12, VERDICT r11 "What's missing" #1).

The reference runs as ``python mb8600.py``: env-var config
(``mb8600.py:77-136``, ``README.md:13-26``), an infinite scrape loop
every ``SCRAPE_DELAY`` seconds (``mb8600.py:313-443``), a ClickHouse
insert task, and a SIGTERM handler that sets a stop event
(``mb8600.py:445-457``). This module wires the same contract through
the engine's pieces:

    format("hnap")  ->  parse_payloads  ->  foreachBatch sink
    (sources/hnap_datasource)  (streaming/ingest)   (sinks/clickhouse
                                                     or plans manifest)

Env contract — the REFERENCE'S names and validation (missing required
var / invalid int -> exit(1) with the same message shape):

    MODEM_NAME (MB8600)  MODEM_URL*  MODEM_USERNAME*  MODEM_PASSWORD*
    SCRAPE_DELAY (10, >=1 — the reference's CODE default; its README
    says 30, a documented discrepancy, SURVEY §2.D1)
    CLICKHOUSE_URL*  CLICKHOUSE_USERNAME*  CLICKHOUSE_PASSWORD*
    CLICKHOUSE_DATABASE*  CLICKHOUSE_TABLE (docsis)
    CLICKHOUSE_QUEUE_LIMIT (1000, >=25 — maps to the sink's POST batch
    size: the reference's queue bounds rows buffered before INSERT,
    the sink's batch_rows bounds rows per INSERT body)
    LOG_LEVEL (INFO)

Engine extensions (optional):

    DOCSIS_TABLE_PATH — write to the exactly-once ManifestTable at
        this path INSTEAD of ClickHouse (the CLICKHOUSE_* vars are
        then not required); the transactional upgrade documented in
        SURVEY §2.A5.
    MODEM_FAKE=1 — the connector's deterministic fake transport (no
        modem on the network; CI/demo).

Shutdown: SIGTERM/SIGINT set a stop event; the streaming query is
``stop()``-ed (the checkpoint makes the in-flight micro-batch replay
on next start — at-least-once into ClickHouse, exactly-once into the
manifest table) and the session shuts down. Unlike the reference's
drop-on-error sink (``mb8600.py:308-311``), a failed INSERT here
retries then fails the micro-batch for replay — never a silent drop.
"""

from __future__ import annotations

import json
import logging
import os
import signal
import sys
import threading

log = logging.getLogger("mb8600_clickhouse_spark")

_LEVELS = ("DEBUG", "INFO", "WARNING", "ERROR", "CRITICAL")


class ConfigError(SystemExit):
    """exit(1) with the reference's message shape."""

    def __init__(self, msg: str):
        log.critical(msg)
        print(msg, file=sys.stderr)
        super().__init__(1)


def load_config(env: dict | None = None) -> dict:
    """The reference's ``_load_env_vars`` contract (mb8600.py:77-136):
    defaults, required-var exit, integer validation with minimums."""
    env = os.environ if env is None else env
    cfg: dict = {"modem_name": env.get("MODEM_NAME", "MB8600")}

    level = env.get("LOG_LEVEL", "INFO").upper()
    if level not in _LEVELS:
        raise ConfigError(
            "Invalid LOG_LEVEL, must be a valid log level "
            "(DEBUG, INFO, WARNING, ERROR, CRITICAL)"
        )
    cfg["log_level"] = level

    table_path = env.get("DOCSIS_TABLE_PATH")
    cfg["table_path"] = table_path
    required = ["MODEM_URL", "MODEM_USERNAME", "MODEM_PASSWORD"]
    if not table_path:
        required += [
            "CLICKHOUSE_URL",
            "CLICKHOUSE_USERNAME",
            "CLICKHOUSE_PASSWORD",
            "CLICKHOUSE_DATABASE",
        ]
    for name in required:
        if name not in env:
            raise ConfigError(f"Missing environment variable: '{name}'")
        cfg[name.lower()] = env[name]
    cfg["clickhouse_table"] = env.get("CLICKHOUSE_TABLE", "docsis")

    try:
        cfg["scrape_delay"] = int(env.get("SCRAPE_DELAY", 10))
        if cfg["scrape_delay"] < 1:
            raise ValueError
    except ValueError:
        raise ConfigError(
            "Invalid SCRAPE_DELAY, must be a valid number >= 1"
        ) from None
    try:
        cfg["queue_limit"] = int(env.get("CLICKHOUSE_QUEUE_LIMIT", 1000))
        if cfg["queue_limit"] < 25:
            raise ValueError
    except ValueError:
        raise ConfigError(
            "Invalid CLICKHOUSE_QUEUE_LIMIT, must be a valid number >= 25"
        ) from None

    cfg["fake"] = env.get("MODEM_FAKE", "0") == "1"
    return cfg


def build_query(spark, cfg: dict, checkpoint_dir: str, transport=None):
    """Wire source -> parse -> sink and START the streaming query."""
    from .sources import hnap_datasource
    from .streaming.ingest import parse_payloads

    hnap_datasource.register(spark)
    reader = (
        spark.readStream.format("hnap")
        .option("modem_name", cfg["modem_name"])
        .option("modem_url", cfg["modem_url"])
        .option("username", cfg["modem_username"])
        .option("password", cfg["modem_password"])
        .option("fake", "true" if cfg["fake"] else "false")
    )
    parsed = parse_payloads(reader.load())

    if cfg["table_path"]:
        from .streaming.ingest import manifest_epoch_sink

        sink_fn = manifest_epoch_sink(cfg["table_path"])
    else:
        from .sinks.clickhouse import DOCSIS_COLUMNS, ClickHouseHttpSink

        sink = ClickHouseHttpSink(
            url=cfg["clickhouse_url"],
            table=f"{cfg['clickhouse_database']}.{cfg['clickhouse_table']}",
            columns=DOCSIS_COLUMNS,
            user=cfg["clickhouse_username"],
            password=cfg["clickhouse_password"],
            batch_rows=cfg["queue_limit"],
            transport=transport,
        )
        sink_fn = sink.foreach_batch()

    return (
        parsed.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{cfg['scrape_delay']} seconds")
        .start()
    )


def _log_progress(query, last_batch: int) -> int:
    """Log one JSON line (``batchId``, ``numInputRows``, ``durationMs``)
    per micro-batch that ran since ``last_batch``; returns the newest
    batch id logged. Idle triggers report no ``addBatch`` and are
    skipped: they repeat the id of the batch that has not run yet."""
    for p in query.recentProgress:
        if p.batchId > last_batch and "addBatch" in p.durationMs:
            log.info(
                json.dumps(
                    {
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "durationMs": p.durationMs,
                    }
                )
            )
            last_batch = p.batchId
    return last_batch


def main(
    env: dict | None = None,
    spark=None,
    transport=None,
    stop_event: threading.Event | None = None,
    install_signals: bool = True,
) -> int:
    """The daemon. Injectable (env/session/transport/stop event) so the
    pytest drive and the real ``python -m`` entry share one code path."""
    cfg = load_config(env)
    logging.basicConfig(
        stream=sys.stdout,
        level=getattr(logging, cfg["log_level"]),
        format="%(asctime)s [%(levelname)s] %(message)s",
    )

    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark("mb8600-exporter")
    checkpoint_dir = (env or os.environ).get(
        "CHECKPOINT_DIR", "/tmp/mb8600_exporter_checkpoint"
    )

    stop = stop_event or threading.Event()
    if install_signals:
        # the reference's sigterm_handler (mb8600.py:448-456): set the
        # stop event; the main wait loop does the orderly teardown
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda _s, _f: stop.set())

    query = build_query(spark, cfg, checkpoint_dir, transport=transport)
    log.info(
        "exporter started: modem=%s every %ss -> %s",
        cfg["modem_name"],
        cfg["scrape_delay"],
        cfg["table_path"] or cfg.get("clickhouse_url"),
    )
    last_batch = -1
    try:
        while not stop.is_set() and query.isActive:
            last_batch = _log_progress(query, last_batch)
            stop.wait(1.0)
        if query.exception() is not None:
            log.critical("stream failed: %s", query.exception())
            return 1
        return 0
    finally:
        if query.isActive:
            query.stop()
            query.awaitTermination()
        log.info("exporter stopped")
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
