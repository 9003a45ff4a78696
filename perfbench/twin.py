"""DuckDB twin of the routed pipeline and the per-sink checksums both
engines compute.

The twin reads the same generated parquet files the Spark job reads and
builds every rule from the package's own definitions: the payload regex
(``parse.PAYLOAD_REGEX``), the sampler hash (``fixtures.sample_hash_sql``),
the route rules and the source dimension (``route_rules_sql_duck``,
``source_dim_sql_duck``). Per sink it yields ``n_rows``, ``sum_n_tok`` and
``tok_md5``: the sum over routed rows of the first 32 bits of
md5(doc_id | node_host_filled | tokens joined by commas), which both engines
spell with built-ins.

Run as a script it prints the twin's result as JSON, so DuckDB's memory
stays out of the benchmark's process tree:

    python3 perfbench/twin.py <input_dir> <threads> <temp_dir>
"""

from __future__ import annotations

import json
import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from omnition_opentelemetry_service_spark import fixtures as fx  # noqa: E402
from omnition_opentelemetry_service_spark.functions import parse  # noqa: E402


def tok_md5_spark():
    """Spark column: the per-row md5 checksum term."""
    from pyspark.sql import functions as F

    return F.expr(
        "CAST(conv(substr(md5(concat_ws('|', doc_id, "
        "coalesce(node_host_filled, ''), "
        "array_join(CAST(tokens AS ARRAY<STRING>), ','))), 1, 8), 16, 10) "
        "AS BIGINT)")


TOK_MD5_DUCK = (
    "CAST('0x' || substr(md5(concat_ws('|', doc_id, "
    "coalesce(node_host_filled, ''), array_to_string(tokens, ','))), 1, 8) "
    "AS BIGINT)")


def twin_sql(input_dir: str) -> str:
    rx = parse.PAYLOAD_REGEX
    pay = os.path.join(input_dir, "payloads", "*.parquet")
    seq = os.path.join(input_dir, "sequences", "*.parquet")
    # Only validity matters downstream of parse: no routed column comes from
    # the extracted fields. Carry-forward runs over the valid rows only, as
    # in the Spark pipeline (quarantine_split before carry_forward).
    return f"""
    WITH pay AS (SELECT * FROM read_parquet('{pay}')),
    seq AS (SELECT * FROM read_parquet('{seq}')),
    dim AS ({fx.source_dim_sql_duck()}),
    rules AS ({fx.route_rules_sql_duck()}),
    parsed AS (
      SELECT doc_id, stream_id, msg_seq, node_host,
             regexp_matches(payload, '{rx}') AS valid
      FROM pay),
    good AS (
      SELECT *, last_value(node_host IGNORE NULLS) OVER (
        PARTITION BY stream_id ORDER BY msg_seq
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS node_host_filled
      FROM parsed WHERE valid),
    routed AS (
      SELECT s.doc_id, s.n_tok, s.tokens, r.sink, p.node_host_filled
      FROM good p
      JOIN seq s ON p.doc_id = s.doc_id
      LEFT JOIN dim d ON s.source = d.source
      JOIN rules r ON (r.predicate_source = '*'
                       OR r.predicate_source = s.source)
                  AND s.n_tok >= r.min_n_tok
      WHERE {fx.sample_hash_sql('s.seq_no', 'r.rule_id')}
            < CAST(floor(r.sample_pct * 100) AS BIGINT))
    SELECT sink, count(*) AS n_rows, sum(n_tok) AS sum_n_tok,
           sum({TOK_MD5_DUCK}) AS tok_md5
    FROM routed GROUP BY sink ORDER BY sink
    """


def run_twin(input_dir: str, threads: int, temp_dir: str) -> dict:
    """{"sinks": {sink: [n_rows, sum_n_tok, tok_md5]},
    "received": payload rows, "dropped": rows the regex rejects}."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute("SET memory_limit = '2GB'")
        sinks = {s: [int(a), int(b), int(c)]
                 for s, a, b, c in con.execute(twin_sql(input_dir)).fetchall()}
        pay = os.path.join(input_dir, "payloads", "*.parquet")
        received, dropped = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE NOT regexp_matches("
            f"payload, '{parse.PAYLOAD_REGEX}')) FROM read_parquet('{pay}')"
        ).fetchone()
    finally:
        con.close()
    return {"sinks": sinks, "received": int(received), "dropped": int(dropped)}


if __name__ == "__main__":
    print(json.dumps(run_twin(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
