"""Seeded input generator: the payload and sequence tables of one row window.

The seed selects the window ``[start, start + n)`` of the fixture index
``i``. Every column is the fixture's own expression of ``i`` (the package's
``fixtures`` constants and payload template), so each window has the same
distributions: 60% ``web`` rows (``i % 10 < 6``), 5% malformed payloads
(``i % 20 == 13``), ``n_tok`` in [16, 256] and 64 streams. ``start`` is a
multiple of ``STRIDE``, itself a multiple of 20 and of 64 * 16, so every
residue class above, and the every-16th-message ``node_host`` marks, line
up exactly as in the window that starts at 0.

The pipeline only ever sees the parquet these functions write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark import fixtures as fx

# 1,024,000: windows of up to STRIDE rows never overlap
STRIDE = 5120 * 200
# The trace id hex(i * TOKEN_A + 17) overflows int64 past i ~ 3.47e9
# (fixtures.py); 3000 windows keep every i below 3.08e9.
WINDOWS = 3000


def window_start(seed: int, n: int) -> int:
    """First fixture index of the window the seed selects."""
    if not 0 < n <= STRIDE:
        raise ValueError(f"rows must be in (0, {STRIDE}], got {n}")
    return STRIDE * (seed % WINDOWS)


def payloads(spark: SparkSession, start: int, n: int,
             partitions: int) -> DataFrame:
    """(doc_id, payload, stream_id, msg_seq, node_host) for the window —
    the shape of ``fixtures.raw_payloads`` over ``[start, start + n)``."""
    full = fx._PAYLOAD_SPARK.format(
        epoch=fx.EPOCH0, hosts=fx.N_HOSTS, lvl=f"({fx.LEVEL_CASE_SQL})",
        src=f"({fx.SOURCE_CASE_SQL})", ntok=fx.N_TOK_SQL, ta=fx.TOKEN_A)
    s, every = fx.STREAMS, fx.NODE_EVERY
    return (spark.range(start, start + n, 1, partitions)
            .withColumnRenamed("id", "i")
            .select(
                F.expr(fx.DOC_ID_SQL).alias("doc_id"),
                F.expr(f"CASE WHEN i % {fx.MALFORMED_MOD} = "
                       f"{fx.MALFORMED_RESIDUE} THEN substring({full}, 1, 25) "
                       f"ELSE {full} END").alias("payload"),
                F.expr(f"CAST(i % {s} AS INT)").alias("stream_id"),
                F.expr(f"CAST(i DIV {s} AS INT)").alias("msg_seq"),
                F.expr(f"CASE WHEN (i DIV {s}) % {every} = 0 THEN "
                       f"concat('host-', CAST(i % {s} AS STRING), '-', "
                       f"CAST((i DIV {s}) DIV {every} AS STRING)) END")
                .alias("node_host")))


def sequences(spark: SparkSession, start: int, n: int,
              partitions: int) -> DataFrame:
    """(doc_id, tokens, n_tok, source, seq_no) for the window."""
    return fx.sequences(spark, start + n, partitions, start=start)


def write_plain(spark: SparkSession, seed: int, n: int, out_dir: str,
                partitions: int) -> None:
    """``out_dir/payloads`` and ``out_dir/sequences`` as parquet — the
    layout ``PipelineConfig(input_dir=out_dir)`` reads."""
    start = window_start(seed, n)
    payloads(spark, start, n, partitions).write.mode("overwrite").parquet(
        os.path.join(out_dir, "payloads"))
    sequences(spark, start, n, partitions).write.mode("overwrite").parquet(
        os.path.join(out_dir, "sequences"))

