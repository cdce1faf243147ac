"""Streaming ingest: HNAP payload JSON -> parsed docsis rows -> a
manifest-committed table.

The reference pipeline is scrape -> bounded queue -> row-wise INSERT into
a ClickHouse Buffer table (reference ``mb8600.py:294-311``, ``:313-443``,
``tables.sql:57``). The Spark-native shape (SURVEY.md §1.1, §2.A):

- the poll connector (``sources/hnap.py``) drops one JSON *payload
  record* per scrape into a landing directory — the smallest durable
  handoff; a file-source stream picks them up (checkpointed, replayable,
  so the queue + Buffer table both disappear);
- parsing is the declarative §2.B column-expression path shared with
  batch — one code path, batch/stream parity by construction;
- the sink is ``foreachBatch`` committing each micro-batch to one
  ``plans.ManifestTable`` — the table the exporter daemon writes. The
  reference's storage clauses (``tables.sql:30``) map onto it:
  ``ORDER BY (modem_name, timestamp)`` is
  ``ManifestTable.compact(sort_cols=["modem_name", "timestamp"])``, and
  ``PARTITION BY toDate(timestamp)`` is the manifest's per-file min/max
  skipping (``prune_files``/``scan`` on a ``timestamp`` range).

Delivery: the reference *drops* a batch on sink error (at-most-once,
``mb8600.py:308-311``). Here the checkpointed file source replays unacked
micro-batches, and the sink finds a replayed epoch in the manifest's
committed-epoch ledger and skips it (exactly-once) — an improvement
documented in SURVEY.md §2.A5, not a replication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import parse

# One landing record per scrape, as written by the connector:
# the raw HNAP JSON plus connector-side instrumentation (B9-B11).
PAYLOAD_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("modem_name", T.StringType(), False),
        T.StructField("payload", T.StringType(), False),  # HNAP JSON envelope
        T.StructField("scrape_latency", T.DoubleType(), False),
        T.StructField("ts", T.DoubleType(), False),  # epoch seconds, UTC (mb8600.py:366)
    ]
)

# The HNAP envelope fields the parse path consumes (mb8600.py:370-416).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "GetMultipleHNAPsResponse",
            T.StructType(
                [
                    T.StructField("GetMultipleHNAPsResult", T.StringType()),
                    T.StructField(
                        "GetMotoStatusStartupSequenceResponse",
                        T.StructType(
                            [T.StructField("MotoConnConfigurationFileComment", T.StringType())]
                        ),
                    ),
                    T.StructField(
                        "GetMotoStatusConnectionInfoResponse",
                        T.StructType([T.StructField("MotoConnSystemUpTime", T.StringType())]),
                    ),
                    T.StructField(
                        "GetMotoStatusDownstreamChannelInfoResponse",
                        T.StructType([T.StructField("MotoConnDownstreamChannel", T.StringType())]),
                    ),
                    T.StructField(
                        "GetMotoStatusUpstreamChannelInfoResponse",
                        T.StructType([T.StructField("MotoConnUpstreamChannel", T.StringType())]),
                    ),
                    T.StructField(
                        "GetMotoStatusSoftwareResponse",
                        T.StructType([T.StructField("StatusSoftwareSfVer", T.StringType())]),
                    ),
                ]
            ),
        )
    ]
)


def parse_payloads(records: DataFrame) -> DataFrame:
    """Payload records -> docsis-schema rows (works on batch AND
    streaming DataFrames — same Catalyst expressions either way).

    Implements the full exporter transform (SURVEY.md §2.A2-A3, §2.B):
    JSON envelope decode, result-status gate, packed-string channel
    parsing, uptime regex, constants, second-precision timestamps.
    """
    env = F.from_json(F.col("payload"), ENVELOPE_SCHEMA)["GetMultipleHNAPsResponse"]
    gated = records.withColumn("env", env).filter(
        F.col("env")["GetMultipleHNAPsResult"] == "OK"  # mb8600.py:354-360
    )
    ds_raw = F.col("env")["GetMotoStatusDownstreamChannelInfoResponse"][
        "MotoConnDownstreamChannel"
    ]
    us_raw = F.col("env")["GetMotoStatusUpstreamChannelInfoResponse"]["MotoConnUpstreamChannel"]
    up_raw = F.col("env")["GetMotoStatusConnectionInfoResponse"]["MotoConnSystemUpTime"]
    return gated.select(
        F.col("modem_name"),
        F.col("env")["GetMotoStatusStartupSequenceResponse"][
            "MotoConnConfigurationFileComment"
        ].alias("modem_config_filename"),
        parse.parse_uptime(up_raw).alias("modem_uptime"),
        F.col("env")["GetMotoStatusSoftwareResponse"]["StatusSoftwareSfVer"].alias(
            "modem_version"
        ),
        F.lit("MB8600").alias("modem_model"),  # mb8600.py:432
        parse.parse_downstream(ds_raw).alias("downstream_channels"),
        parse.parse_upstream(us_raw).alias("upstream_channels"),
        F.col("scrape_latency").cast("float").alias("scrape_latency"),
        # ClickHouse DateTime is second-precision (tables.sql:29)
        F.timestamp_seconds(F.col("ts").cast("long")).alias("timestamp"),
        ds_raw.alias("downstream_raw"),
        us_raw.alias("upstream_raw"),
        up_raw.alias("uptime_raw"),
    )


def read_payload_stream(spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Checkpoint-friendly file-source stream over the landing dir
    (JSON lines, one payload record per line)."""
    reader = spark.readStream.schema(PAYLOAD_RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


def dedup_scrapes(parsed: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Drop duplicate scrapes on the table's primary key
    (modem_name, timestamp) — the retry-duplicate guard the reference's
    at-least-once HTTP path implies (a re-polled or re-landed payload is
    the same second-precision scrape; MergeTree would happily store both,
    tables.sql:30 orders but does not dedupe).

    Streaming inputs use ``dropDuplicatesWithinWatermark``: state is
    BOUNDED — a key is remembered only until the watermark passes it,
    so state size tracks (modems × watermark/scrape-interval), not
    stream history. Batch inputs take the plain exact dedup. Works in
    the parsed chain before any sink:
    ``parse_payloads(...) |> dedup_scrapes |> write_docsis_stream_manifest``."""
    if not parsed.isStreaming:
        return parsed.dropDuplicates(["modem_name", "timestamp"])
    return parsed.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        ["modem_name", "timestamp"]
    )


def manifest_epoch_sink(table_path: str):
    """foreachBatch sink with EXACTLY-ONCE semantics on a
    ``plans.ManifestTable``: each micro-batch commits atomically with its
    epoch id recorded in the manifest; a replayed epoch (checkpoint
    recovery re-delivers the last unacked batch) finds itself in the
    committed-epoch ledger and is a no-op. The sink itself is idempotent,
    so readers need no replay fencing — the transactional upgrade over
    the reference's drop-on-error INSERT (mb8600.py:308-311).

    Replays of one streaming query are sequential (the engine never runs
    the same epoch concurrently), so check-then-commit is race-free per
    query; concurrent DIFFERENT epochs serialize through the manifest
    version CAS."""
    from ..plans import ManifestTable

    table = ManifestTable(table_path)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in table.committed_epochs():
            return
        table.append(batch_df, extra={"epoch": epoch_id})

    return _sink


def write_docsis_stream_manifest(
    parsed: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    processing_time: str | None = None,
    available_now: bool = False,
):
    """Start the micro-batched EXACTLY-ONCE append into a ManifestTable
    (the Spark stand-in for the Buffer-engine flush cadence,
    tables.sql:57 -> trigger interval)."""
    writer = parsed.writeStream.foreachBatch(
        manifest_epoch_sink(table_path)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
