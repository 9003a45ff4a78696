"""The Spark session the benchmark runs in and its two workloads.

Each workload is one closed-loop client: a rep starts when the previous one
has finished. ``rep`` is the timed call; ``post`` gathers, outside the
timer, what ``problems`` compares with the verified values.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark.plans import pipeline as pl
from omnition_opentelemetry_service_spark.session import get_spark

from . import inputs
from .procstat import tree_cpu_s
from .twin import tok_md5_spark

# xxhash64 checksums are reduced mod this prime before summing (as in
# tools/scale_probe.py), so a per-sink sum never overflows a long.
XX_MOD = 1_000_000_007
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start-up."""
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


# Driver heap, committed from the start (-Xms = -Xmx) so the heap is never
# resized. Its pages become resident as the JVM touches them, so the peak
# resident size still follows how much of the heap a run uses. 2 GB holds
# the inputs with room to spare and leaves most of a 15 GB host to other
# jobs.
DRIVER_MEM = "2g"


def start_spark(work: str, cores: int, ui: bool = False) -> SparkSession:
    """A fresh JVM at ``local[cores]``, with every file it writes under
    ``work``. The JVM sees ``cores`` processors, so its GC and JIT threads
    match the task slots (as in tools/scale_probe.py)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # wins over spark.local.dir
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(
        app_name="perfbench", parallelism=cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-XX:ActiveProcessorCount={cores} "
                f"-XX:ParallelGCThreads={cores} "
                f"-XX:ConcGCThreads={max(1, cores // 4)}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the at-scale join plan: the parsed side of payloads ⨝
            # sequences must not broadcast just because the input is small
            # (tools/scale_probe.py gives the measured reason)
            "spark.sql.autoBroadcastJoinThreshold": str(1 << 20),
            # the default codegen cache (100 classes) is too small for a
            # rep's queries: in some runs it evicted and recompiled about
            # 20 generated classes every rep, so the JIT never settled and
            # reps took up to 40% longer
            "spark.sql.codegen.cache.maxEntries": "1000",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and its JVM and wait for the JVM to exit; the next
    ``start_spark`` launches a new one."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def checksum_agg(routed: DataFrame, md5: bool = False) -> DataFrame:
    """Per-sink rows, token sum and xxhash64(tokens, node_host_filled)
    checksum (the tools/scale_probe.py action): every token of every routed
    row and the carry-forward output are read, so no stage is pruned."""
    xx = F.xxhash64("tokens", "node_host_filled") % F.lit(XX_MOD)
    aggs = [F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.sum(xx).alias("xx")]
    if md5:
        aggs.append(F.sum(tok_md5_spark()).alias("tok_md5"))
    return routed.groupBy("sink").agg(*aggs)


def sink_table(rows, *cols: str) -> dict[str, list[int]]:
    return {r["sink"]: [int(r[c]) for c in cols] for r in rows}


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


class Workload:
    """One workload: ``rows`` input rows at seed ``seed`` under ``work``."""

    name = ""
    # whether the traced run also times this job in a local[1] JVM
    baseline_1core = True

    @staticmethod
    def span(name: str, **attrs):
        """Context around a report read; the traced run records a span."""
        return contextlib.nullcontext()

    def __init__(self, work: str, seed: int, rows: int, cores: int) -> None:
        self.work, self.seed, self.rows, self.cores = work, seed, rows, cores
        self.input_dir = os.path.join(work, "input")

    def config(self) -> pl.PipelineConfig:
        raise NotImplementedError

    def materialise(self, spark: SparkSession) -> None:
        inputs.write_plain(spark, self.seed, self.rows, self.input_dir,
                           self.cores)

    def prepare(self, spark: SparkSession) -> None:
        """Set-up after the inputs exist (nothing by default)."""

    def before_rep(self) -> None:
        """Untimed reset before each rep (nothing by default)."""

    def rep(self, spark: SparkSession) -> dict:
        raise NotImplementedError

    def post(self, spark: SparkSession, r: dict) -> None:
        """Untimed: the per-sink xxhash checksum of the rep's routed rows."""
        if "xx" not in r:
            r["xx"] = sink_table(checksum_agg(r["routed"]).collect(), "xx")

    def timed(self, spark: SparkSession, expected: dict) -> tuple:
        """One rep: (wall s, process-tree CPU s, result, problems). An
        exception fails the rep instead of the run."""
        self.before_rep()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            r = self.rep(spark)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            self.post(spark, r)
            return wall, cpu, r, self.problems(r, expected)
        except Exception as e:  # noqa: BLE001 — counted as a failed rep
            return (time.perf_counter() - t0, tree_cpu_s() - c0, None,
                    [f"{type(e).__name__}: {e}"])

    def problems(self, r: dict, expected: dict) -> list[str]:
        """Every way the rep's outputs differ from the verified values."""
        out = []
        if r["sinks"] != expected["sinks"]:
            out.append(f"sink counts {r['sinks']} != {expected['sinks']}")
        if r["xx"] != expected["xx"]:
            out.append(f"checksum {r['xx']} != {expected['xx']}")
        want = [("parse", "oc_trace", expected["received"],
                 expected["dropped"])]
        if r["counters"][:1] != want:
            out.append(f"counters {r['counters']} != {want}")
        return out

    def routed_rows(self, r: dict) -> int:
        return sum(v[0] for v in r["sinks"].values())


class ExportPlain(Workload):
    name = "export_plain"
    # at one core its warm-up and timed rep alone would take most of the
    # 180 s a traced run may last
    baseline_1core = False

    def config(self) -> pl.PipelineConfig:
        return pl.PipelineConfig(input_dir=self.input_dir,
                                 write_sinks_dir=self.sinks_dir)

    @property
    def sinks_dir(self) -> str:
        return os.path.join(self.work, "sinks")

    def rep(self, spark: SparkSession) -> dict:
        res = pl.run_pipeline(spark, self.config())
        with self.span("metrics.lineage_collect"):
            lineage = res["lineage"].collect()
        with self.span("batcher.salted_counts"):
            salted = res["salted_source_counts"].collect()
        return {"sinks": sink_table(res["sink_counts"], "n_rows", "sum_n_tok"),
                "routed": res["routed"], "counters": res["counters"],
                "lineage": lineage, "salted": salted}

    def post(self, spark: SparkSession, r: dict) -> None:
        super().post(spark, r)
        r["routed"].unpersist()
        r["written"] = {row["sink"]: int(row["n"]) for row in
                        spark.read.parquet(self.sinks_dir).groupBy("sink")
                        .agg(F.count(F.lit(1)).alias("n")).collect()}

    def problems(self, r: dict, expected: dict) -> list[str]:
        out = super().problems(r, expected)
        routed = sum(v[0] for v in expected["sinks"].values())
        good = expected["received"] - expected["dropped"]
        want_written = {s: v[0] for s, v in expected["sinks"].items()}
        if r["written"] != want_written:
            out.append(f"written rows {r['written']} != {want_written}")
        if [tuple(c) for c in r["counters"][1:]] != [
                ("export", "sinks", routed, 0)]:
            out.append(f"export counters {r['counters'][1:]}")
        if [(x["stage"], x["rows_total"]) for x in r["lineage"]] != [
                ("route", routed)]:
            out.append(f"lineage {r['lineage']}")
        if sum(x["n_rows"] for x in r["salted"]) != good:
            out.append(f"salted counts {r['salted']} != {good} rows")
        return out


class ResumeRouted(Workload):
    name = "resume_routed"

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.work, "checkpoint")

    def config(self) -> pl.PipelineConfig:
        return pl.PipelineConfig(input_dir=self.input_dir,
                                 checkpoint_dir=self.checkpoint_dir)

    def prepare(self, spark: SparkSession) -> None:
        """Commit the parsed stage under the run's fingerprint."""
        shutil.rmtree(self.checkpoint_dir, ignore_errors=True)
        pl.run_pipeline(spark, self.config())

    def before_rep(self) -> None:
        shutil.rmtree(os.path.join(self.checkpoint_dir, "routed"))

    def rep(self, spark: SparkSession) -> dict:
        res = pl.run_pipeline(spark, self.config())
        return {"sinks": sink_table(res["sink_counts"], "n_rows", "sum_n_tok"),
                "routed": res["routed"], "counters": res["counters"]}


WORKLOADS = {w.name: w for w in (ExportPlain, ResumeRouted)}
