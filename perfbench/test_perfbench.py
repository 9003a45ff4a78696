"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run, trace
from perfbench.workloads import WORKLOADS, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class FakeWorkload(Workload):
    """Returns canned outputs; the checksum is wrong on the reps listed."""

    name = "fake"

    def __init__(self, bad_reps: set[int]) -> None:
        super().__init__("unused", 0, 1000, 1)
        self.bad_reps, self.n = bad_reps, 0

    def rep(self, spark):
        self.n += 1
        xx = 7 if self.n in self.bad_reps else 42
        return {"sinks": {"sink_a": [10, 100]}, "xx": {"sink_a": [xx]},
                "counters": [("parse", "oc_trace", 1000, 50)]}

    def post(self, spark, r):
        pass


EXPECTED = {"sinks": {"sink_a": [10, 100]}, "xx": {"sink_a": [42]},
            "received": 1000, "dropped": 50}
SETUP = {"setup_s": 1.0}


def test_checksum_mismatch_counts_as_failed_rep():
    t = run.timed_reps(FakeWorkload(bad_reps={2}), None, EXPECTED,
                       seconds=0.05)
    assert t["attempted"] >= run.MIN_REPS and t["failed"] == 1
    assert len(t["walls"]) == t["attempted"] - 1
    ok = run.end_to_end(FakeWorkload(set()), SETUP, t)["ok_frac"]["value"]
    assert ok == (t["attempted"] - 1) / t["attempted"] < 1.0


def test_clean_reps_have_no_failures():
    t = run.timed_reps(FakeWorkload(set()), None, EXPECTED, seconds=0.05)
    assert t["failed"] == 0
    assert run.end_to_end(FakeWorkload(set()), SETUP, t)["ok_frac"][
        "value"] == 1.0


def test_warm_up_checks_its_reps_and_completes_setup_s():
    # the fake's first rep is the one setup() returns for verification
    w = FakeWorkload(bad_reps={3})
    w.rep(None)
    times = {"session_s": 1.0, "materialise_s": 2.0, "warmup_s": 3.0}
    assert run.warm_up(w, None, EXPECTED, times) == 1
    assert w.n == run.WARMUP_REPS
    assert times["setup_s"] == pytest.approx(
        times["session_s"] + times["materialise_s"] + times["warmup_s"])
    assert times["warmup_s"] >= 3.0


def test_problems_names_each_mismatch():
    w = FakeWorkload(set())
    r = {"sinks": {"sink_a": [11, 100]}, "xx": {"sink_a": [1]},
         "counters": [("parse", "oc_trace", 1000, 49)]}
    found = " ".join(w.problems(r, EXPECTED))
    assert "sink counts" in found and "checksum" in found
    assert "counters" in found


def test_printed_names_match_benchmark_json():
    spec = benchmark_json()
    t = {"walls": [1.0], "cpus": [1.0], "attempted": 1, "failed": 0,
         "peak_rss_mb": 1.0, "routed": 1}
    printed = run.end_to_end(FakeWorkload(set()), SETUP, t)
    assert {k: v["unit"] for k, v in printed.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert trace.PER_LAYER == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_self_times_telescope():
    prefix = {"scan": 1.0, "parse": None, "quarantine": 1.5,
              "carryforward": 2.5, "join": 2.25, "enrich": 3.0,
              "router": 4.0}
    selfs = trace.self_times(prefix)
    assert selfs == {"scan": 1.0, "parse": 0.0, "quarantine": 0.5,
                     "carryforward": 1.0, "join": -0.25, "enrich": 0.75,
                     "router": 1.0}
    assert sum(selfs.values()) == pytest.approx(prefix["router"])


def test_first_action_on_routed_carries_the_routed_prefix():
    export = trace.rep_times(
        4.0, {"plan.build_routed": 0.25, "sink_counts.collect": 5.0,
              "translate.write_sinks_translated": 2.0,
              "metrics.lineage_collect": 0.5, "batcher.salted_counts": 1.0})
    assert export == pytest.approx({"plan": 0.25, "open": 0.0,
                                    "sink_counts": 1.0, "translate": 2.0,
                                    "lineage": 0.5, "salted": 1.0,
                                    "snapshot_write": 0.0})
    resume = trace.rep_times(
        4.0, {"plan.build_from_parsed": 0.5, "scan.load_inputs": 0.125,
              "snapshot.write": 5.0, "snapshot.read": 0.25,
              "sink_counts.collect": 0.75})
    assert resume["plan"] == pytest.approx(0.5)
    assert resume["open"] == pytest.approx(0.375)
    assert resume["snapshot_write"] == pytest.approx(1.0)
    assert resume["sink_counts"] == pytest.approx(0.75)


def test_accounting_fails_when_self_times_miss_more_than_the_overhead():
    ok = trace.accounting(explained_s=9.8, untraced_s=10.0, traced_s=10.5)
    assert ok["overhead_frac"] == pytest.approx(0.05)
    assert ok["unexplained_frac"] == pytest.approx(0.02) and ok["within"]
    gap = trace.accounting(explained_s=7.0, untraced_s=10.0, traced_s=10.5)
    assert gap["unexplained_frac"] == pytest.approx(0.3)
    assert not gap["within"]


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "export_plain",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.workloads import start_spark, stop_spark

    session = start_spark(str(tmp_path_factory.mktemp("spark")), 1)
    yield session
    stop_spark(session)


def test_seeds_give_disjoint_inputs_with_equal_distributions(spark):
    from pyspark.sql import functions as F

    from omnition_opentelemetry_service_spark.functions.parse import (
        PAYLOAD_REGEX,
    )
    from perfbench import inputs

    n = 5120

    def profile(seed: int):
        start = inputs.window_start(seed, n)
        pay = inputs.payloads(spark, start, n, 2)
        seq = inputs.sequences(spark, start, n, 2)
        p = pay.agg(
            F.sum((~F.col("payload").rlike(PAYLOAD_REGEX)).cast("int"))
            .alias("malformed"),
            F.countDistinct("stream_id").alias("streams"),
            F.count("node_host").alias("node_marks")).first().asDict()
        s = seq.agg(
            F.sum((F.col("source") == "web").cast("int")).alias("web"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok")).first().asDict()
        docs = {r.doc_id for r in seq.select("doc_id").collect()}
        return {**p, **s}, docs

    a, docs_a = profile(1)
    b, docs_b = profile(2)
    assert a == b
    assert a["web"] == 0.6 * n and a["malformed"] == 0.05 * n
    assert a["streams"] == 64
    assert 16 <= a["min_tok"] and a["max_tok"] <= 256
    assert not docs_a & docs_b
