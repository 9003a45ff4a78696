"""Traced run: where a workload's time, rows and bytes go, layer by layer.

Three sources, all outside the package:

- **Marginal prefixes.** Each prefix of the DAG (scan, parse, quarantine,
  carry-forward, join, enrich, route) is built from the layers' public
  functions and materialised with a ``noop`` write, which computes every
  column; an observed row count rides along. A layer's self time is
  ``prefix(k) - prefix(k-1)``. Prefixes before the join add the time to
  scan the sequences table, which they do not read but the join does. The
  prefixes are timed round-robin, so a slow drift (JIT, page cache) reaches
  all of them alike, and the first round only warms up.
- **Spans** around the public calls a full rep makes: ``build_routed``,
  ``build_from_parsed``, ``load_inputs``, the collect of ``sink_counts``,
  ``SnapshotTable.write``/``read`` and ``write_sinks_translated``, wrapped
  in this process, plus the report reads (lineage collect, salted counts).
  Each span runs its Spark jobs under its own job group.
- **Spark's own numbers**: SQL metrics of the executed plan of an untimed
  checksum action over the scan, carry-forward and join prefixes (scan
  bytes, exchanges, broadcast build time, join kind), and per-job and
  per-stage figures from the status REST API (jobs, tasks, shuffle bytes,
  spill, task-time skew), read once at the end.

Layers after ``route`` take their self times from the spans of a full
rep: the wrapped calls, the sink-count action and the report reads. The
first action on ``routed`` also executes the routed prefix (the snapshot
write where there is one, else the sink-count action), so that prefix is
subtracted from it. ``snapshot.read_s`` is timed on its own, round-robin:
reading back every column of the committed routed snapshot. The rep itself
reads back only the columns the sink counts need, and that read is part of
``sink_counts.self_s``.

Accounting: the prefix of ``route``, the post-route self times and the
time the rep spends composing its DAG and opening its inputs (the
``build_routed``/``build_from_parsed``, ``load_inputs`` and
``SnapshotTable.read`` spans, which the prefix timings leave out because
they reuse composed DataFrames) add up to what the trace explains of a rep.
``trace.unexplained_frac`` is the share of the untraced rep's wall time
they leave out. The trace file records whether it is within the
``trace.overhead_frac`` the run measures (traced against untraced reps,
which alternate).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import urllib.request
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from omnition_opentelemetry_service_spark import fixtures
from omnition_opentelemetry_service_spark.functions import parse
from omnition_opentelemetry_service_spark.metrics import StageCounters
from omnition_opentelemetry_service_spark.operators import carryforward, router
from omnition_opentelemetry_service_spark.operators import translate
from omnition_opentelemetry_service_spark.plans import pipeline as pl
from omnition_opentelemetry_service_spark.sinks.snapshot import SnapshotTable

from .workloads import (XX_MOD, ResumeRouted, du_mb, log, start_spark,
                        stop_spark)

# DAG prefixes in call order.
LAYERS = ["scan", "parse", "quarantine", "carryforward", "join", "enrich",
          "router"]
ROUNDS = 3  # round-robin timings: round 0 warms up; the median of the
# others counts
REPS = 2  # traced and untraced full reps each
BASELINE_REPS = 1  # timed reps at local[1], after one warm-up rep

# name → unit of every per-layer metric a traced run prints
PER_LAYER = {
    "scan.rows": "count", "scan.read_mb": "MB", "scan.self_s": "s",
    "parse.rows_in": "count", "parse.self_s": "s",
    "quarantine.dropped_rows": "count", "quarantine.valid_ratio": "ratio",
    "quarantine.self_s": "s",
    "carryforward.self_s": "s", "carryforward.shuffle_mb": "MB",
    "carryforward.spill_mb": "MB", "carryforward.task_skew": "ratio",
    "join.rows_out": "count", "join.self_s": "s", "join.shuffle_mb": "MB",
    "join.exchanges": "count", "join.broadcast_build_s": "s",
    "enrich.rows_out": "count", "enrich.self_s": "s",
    "router.rows_in": "count", "router.rows_out": "count",
    "router.fanout": "ratio", "router.sampler_keep_ratio": "ratio",
    "router.self_s": "s",
    "sink_counts.self_s": "s",
    "translate.rows_written": "count", "translate.write_mb": "MB",
    "translate.shuffle_mb": "MB", "translate.self_s": "s",
    "snapshot.write_s": "s", "snapshot.read_s": "s", "snapshot.write_mb": "MB",
    "metrics.lineage_s": "s", "metrics.lineage_jobs": "count",
    "batcher.salted_counts_s": "s",
    "session.start_s": "s", "session.input_materialize_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_mb_total": "MB", "spark.spill_mb_total": "MB",
    "trace.overhead_frac": "ratio", "trace.unexplained_frac": "ratio",
    "baseline_1core.routed_rows_per_s": "1/s",
}


class Tracer:
    """Spans kept in memory: name, start, end, parent span and trace id.
    Spark jobs started inside a span run under the job group
    ``<trace id>-<span id>``."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._open: list[int] = []

    def group(self, span_id: int) -> str:
        return f"{self.trace_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"trace_id": self.trace_id, "span_id": len(self.spans),
               "parent": self._open[-1] if self._open else None,
               "name": name, "start": time.time(), "attrs": attrs}
        self.spans.append(rec)
        self._open.append(rec["span_id"])
        self.sc.setJobGroup(self.group(rec["span_id"]), name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self.group(self._open[-1]), "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def subtree(self, span_id: int) -> list[dict]:
        out, ids = [], {span_id}
        for s in self.spans:  # parents precede their children
            if s["span_id"] in ids or s["parent"] in ids:
                ids.add(s["span_id"])
                out.append(s)
        return out


@contextlib.contextmanager
def wrapped_calls(tracer: Tracer, w):
    """Wrap the pipeline's DAG builders, input loads, sink-count action,
    snapshot calls and sink write, and the workload's report reads, in
    spans, in this process only, and restore them afterwards."""
    originals = (pl.build_routed, pl.build_from_parsed, pl.load_inputs,
                 pl.sink_counts, SnapshotTable.write, SnapshotTable.read,
                 translate.write_sinks_translated)
    build, build_parsed, load, counts, write, read, write_sinks = originals

    def traced_build(*a, **k):
        with tracer.span("plan.build_routed"):
            return build(*a, **k)

    def traced_build_parsed(*a, **k):
        with tracer.span("plan.build_from_parsed"):
            return build_parsed(*a, **k)

    def traced_load(*a, **k):
        with tracer.span("scan.load_inputs"):
            return load(*a, **k)

    def traced_counts(*a, **k):
        # the pipeline collects what sink_counts returns: time that action
        df = counts(*a, **k)
        collect = df.collect

        def traced_collect():
            with tracer.span("sink_counts.collect"):
                return collect()

        df.collect = traced_collect
        return df

    def traced_write(self, df, stage, *a, **k):
        with tracer.span("snapshot.write", stage=stage, root=self.root):
            return write(self, df, stage, *a, **k)

    def traced_read(self, *a, **k):
        with tracer.span("snapshot.read", root=self.root):
            return read(self, *a, **k)

    def traced_write_sinks(*a, **k):
        with tracer.span("translate.write_sinks_translated"):
            return write_sinks(*a, **k)

    pl.build_routed, pl.build_from_parsed = traced_build, traced_build_parsed
    pl.load_inputs, pl.sink_counts = traced_load, traced_counts
    SnapshotTable.write, SnapshotTable.read = traced_write, traced_read
    translate.write_sinks_translated = traced_write_sinks
    w.span = tracer.span
    try:
        yield
    finally:
        (pl.build_routed, pl.build_from_parsed, pl.load_inputs,
         pl.sink_counts, SnapshotTable.write, SnapshotTable.read,
         translate.write_sinks_translated) = originals
        del w.span


# ---------------------------------------------------------------------------
# Spark's numbers: executed-plan SQL metrics and the status REST API
# ---------------------------------------------------------------------------
def plan_nodes(jplan) -> list[tuple[str, dict]]:
    """(class name, SQL metrics) of every node of an executed plan,
    descending through adaptive plans and query stages."""
    out, todo = [], [jplan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        metrics, it = {}, p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((cls, metrics))
        children = p.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def plan_summary(df: DataFrame) -> dict:
    """Per-plan figures of an action that already ran on ``df``."""
    nodes = plan_nodes(df._jdf.queryExecution().executedPlan())
    return {
        "read_bytes": sum(m.get("filesSize", 0) for c, m in nodes
                          if c == "FileSourceScanExec"),
        "exchanges": sum(c == "ShuffleExchangeExec" for c, _ in nodes),
        "broadcast_build_ms": sum(m.get("buildTime", 0) for c, m in nodes
                                  if c == "BroadcastExchangeExec"),
        "joins": sorted(c for c, _ in nodes if "Join" in c),
    }


class StatusApi:
    """Jobs and stages of this application, from the status REST API."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def load(self) -> None:
        """Fetch every job and stage once every job has finished (the
        listener that feeds the API runs behind the actions)."""
        for _ in range(50):
            self.jobs = self.get("/jobs")
            if all(j["status"] != "RUNNING" for j in self.jobs):
                break
            time.sleep(0.2)
        for s in self.get("/stages"):
            if s["status"] == "COMPLETE":
                self.stages[s["stageId"]] = s

    def group_stats(self, groups: set[str]) -> dict:
        jobs = [j for j in self.jobs if j.get("jobGroup") in groups]
        stages = [self.stages[i] for j in jobs for i in j["stageIds"]
                  if i in self.stages]
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6,
            "stages": stages,
        }

    def task_skew(self, stages: list[dict]) -> float:
        """Max over median task run time in the shuffle-reading stages with
        more than one task (1.0 when there is none)."""
        skews = [1.0]
        for s in stages:
            if s["shuffleReadBytes"] > 0 and s["numTasks"] > 1:
                q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
                med, top = q["executorRunTime"]
                skews.append(top / max(med, 1.0))
        return max(skews)


# ---------------------------------------------------------------------------
# Prefix arithmetic
# ---------------------------------------------------------------------------
def self_times(prefix_s: dict[str, float | None]) -> dict[str, float]:
    """Self time per layer from cumulative prefix times in LAYERS order; a
    layer that does not run (``None``) has self time 0."""
    out, prev = {}, 0.0
    for layer in LAYERS:
        p = prefix_s.get(layer)
        out[layer] = 0.0 if p is None else p - prev
        prev = prev if p is None else p
    return out


def rep_times(route_prefix_s: float,
              spans: dict[str, float]) -> dict[str, float]:
    """Self times of what one full rep runs besides the prefixes.

    ``spans`` sums the durations of the rep's top-level spans by name.
    ``plan`` is the time the builders (``build_routed``,
    ``build_from_parsed``) take to compose the DAG, input loads included,
    and ``open`` that of the input loads made outside them (``load_inputs``,
    ``SnapshotTable.read``: file listing and schema reads). The prefix
    timings leave both out because they reuse composed DataFrames. The
    first action on ``routed`` also runs the routed prefix: the snapshot
    write when there is one, otherwise the sink-count action."""
    write = spans.get("snapshot.write", 0.0)
    out = {
        "plan": spans.get("plan.build_routed", 0.0)
        + spans.get("plan.build_from_parsed", 0.0),
        "open": spans.get("scan.load_inputs", 0.0)
        + spans.get("snapshot.read", 0.0),
        "sink_counts": spans.get("sink_counts.collect", 0.0),
        "translate": spans.get("translate.write_sinks_translated", 0.0),
        "lineage": spans.get("metrics.lineage_collect", 0.0),
        "salted": spans.get("batcher.salted_counts", 0.0),
        "snapshot_write": write,
    }
    out["snapshot_write" if write else "sink_counts"] -= route_prefix_s
    return out


def accounting(explained_s: float, untraced_s: float,
               traced_s: float) -> dict:
    """How far the self times (summing to ``explained_s``) fall short of the
    untraced rep's wall, against the tracing overhead itself. ``within`` is
    False when the gap is larger than the overhead."""
    overhead = traced_s / untraced_s - 1.0
    unexplained = 1.0 - explained_s / untraced_s
    return {"overhead_frac": overhead, "unexplained_frac": unexplained,
            "within": abs(unexplained) <= abs(overhead)}


def plan_of_checksum(df: DataFrame) -> dict:
    """Plan figures of an untimed checksum over every column of ``df``."""
    agg = df.agg(F.sum(F.xxhash64(*df.columns) % F.lit(XX_MOD)))
    agg.collect()
    return plan_summary(agg)


def prefix_frames(w, spark: SparkSession) -> dict[str, DataFrame | None]:
    """Layer → the DataFrame its prefix ends in, plus ``sequences``, for the
    workload's DAG as ``plans.pipeline`` composes it (on export_plain with
    the parse counters observed inside the DAG, as ``run_pipeline`` does).
    ``parse`` is None where the workload resumes from the parsed
    snapshot."""
    cfg = w.config()
    if isinstance(w, ResumeRouted):
        table = SnapshotTable(os.path.join(cfg.checkpoint_dir, "parsed"))
        m = table.stage_manifest("parsed", pl.config_fingerprint(cfg))
        parsed = table.read(spark, m["version"])
        _, seqs = pl.load_inputs(spark, cfg, sequences_only=True)
        stages = pl.build_from_parsed(spark, parsed, seqs,
                                      fixtures.source_dim(spark),
                                      fixtures.route_rules(spark))
        frames = {"scan": parsed, "parse": None}
    else:
        stages = pl.build_routed(spark, cfg, StageCounters())
        parsed, seqs = stages["parsed"], pl.load_inputs(spark, cfg)[1]
        frames = {"scan": stages["payloads"], "parse": parsed}
    good, _ = parse.quarantine_split(parsed)
    frames.update(quarantine=good,
                  carryforward=carryforward.carry_forward(good),
                  join=stages["spans"], enrich=stages["enriched"],
                  router=stages["routed"], sequences=seqs)
    return frames


def noop_write(df: DataFrame) -> int:
    """Materialise every column of ``df``; returns its row count."""
    obs = Observation(f"rows-{uuid.uuid4().hex[:8]}")
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    return int(obs.get["n"])


def round_robin(tracer: Tracer, kind: str, actions: dict) -> dict:
    """Runs every action once per round, ROUNDS rounds, each in a span
    ``<kind>.<name>``: median wall over the rounds after the first, the
    last result, and the job groups of the timed rounds."""
    out = {name: {"walls": [], "groups": set()} for name in actions}
    for i in range(ROUNDS):
        for name, action in actions.items():
            with tracer.span(f"{kind}.{name}", round=i) as s:
                out[name]["result"] = action()
            if i:
                out[name]["walls"].append(s["dur_s"])
                out[name]["groups"].add(tracer.group(s["span_id"]))
    for p in out.values():
        p["wall_s"] = statistics.median(p["walls"])
    return out


def time_prefixes(tracer: Tracer, frames: dict[str, DataFrame]) -> dict:
    """Round-robin noop writes of every prefix; ``result`` is its rows."""
    return round_robin(tracer, "prefix", {
        name: lambda df=df: noop_write(df) for name, df in frames.items()})


def time_snapshot_read(w, spark: SparkSession, tracer: Tracer) -> float:
    """Round-robin median of reading back every column of the routed
    snapshot the last warm-up rep committed (0 where there is none)."""
    if not isinstance(w, ResumeRouted):
        return 0.0
    cfg = w.config()
    table = SnapshotTable(os.path.join(cfg.checkpoint_dir, "routed"))
    v = table.stage_manifest("routed", pl.config_fingerprint(cfg))["version"]
    return round_robin(tracer, "post", {
        "snapshot_read": lambda: noop_write(table.read(spark, v)),
    })["snapshot_read"]["wall_s"]


def baseline_1core(w, expected: dict) -> tuple[float, int, int]:
    """The single-threaded baseline: the workload's job in a fresh local[1]
    JVM, routed rows per second over BASELINE_REPS timed reps after one
    warm-up rep. 0 where the workload skips it."""
    if not w.baseline_1core:
        return 0.0, 0, 0
    spark = start_spark(w.work, 1)
    try:
        w.before_rep()
        w.post(spark, w.rep(spark))
        walls, failed, routed = [], 0, 0
        for _ in range(BASELINE_REPS):
            wall, _, r, problems = w.timed(spark, expected)
            failed += bool(problems)
            walls.append(wall)
            routed = w.routed_rows(r) if r else routed
    finally:
        stop_spark(spark)
    return routed / statistics.median(walls), BASELINE_REPS, failed


def traced_run(w, spark: SparkSession, expected: dict, setup_times: dict,
               cores: int) -> dict:
    """Prefix timings, the snapshot read-back, alternating untraced and
    traced full reps, then the local[1] baseline; writes the spans and
    figures next to the work dir. Stops ``spark``."""
    tracer = Tracer(spark)
    frames = prefix_frames(w, spark)
    prefixes = time_prefixes(
        tracer, {k: v for k, v in frames.items() if v is not None})
    log(f"prefixes timed: { {k: p['wall_s'] for k, p in prefixes.items()} }")
    plans = {k: plan_of_checksum(frames[k])
             for k in ("scan", "sequences", "carryforward", "join")}
    everything_kept = fixtures.route_rules(spark).withColumn(
        "sample_pct", F.lit(100.0))
    pre_sampler = noop_write(router.route(frames["enrich"], everything_kept))
    log("plans read")
    snapshot_read_s = time_snapshot_read(w, spark, tracer)

    # one full rep, not recorded: the first after the prefix timings runs
    # slower (its Python workers and the rep's own plans start cold)
    _, _, _, problems = w.timed(spark, expected)
    attempted, failed = 1, int(bool(problems))
    untraced, reps = [], []
    for i in range(REPS):
        wall, _, _, problems = w.timed(spark, expected)
        untraced.append(wall)
        w.before_rep()
        with wrapped_calls(tracer, w), tracer.span("rep", rep=i) as s:
            r = w.rep(spark)
        w.post(spark, r)
        attempted += 2
        failed += bool(problems) + bool(w.problems(r, expected))
        reps.append((s, r))

    log(f"full reps: untraced {untraced}, traced "
        f"{[s['dur_s'] for s, _ in reps]}")
    api = StatusApi(spark)
    api.load()
    metrics, detail = layer_metrics(w, tracer, api, prefixes, plans,
                                    pre_sampler, reps, untraced)
    metrics["snapshot.read_s"] = snapshot_read_s
    log(f"accounting: {detail['accounting']}")
    metrics["session.start_s"] = setup_times["session_s"]
    metrics["session.input_materialize_s"] = setup_times["materialise_s"]
    stop_spark(spark)

    rate, n, bad = baseline_1core(w, expected)
    metrics["baseline_1core.routed_rows_per_s"] = rate
    log(f"local[1] baseline: {rate:.0f} routed rows/s")
    attempted, failed = attempted + n, failed + bad

    path = os.path.join(os.path.dirname(w.work), f"{w.name}-trace.json")
    with open(path, "w") as f:
        json.dump({"workload": w.name, "seed": w.seed, "rows": w.rows,
                   "cores": cores, "metrics": metrics, "detail": detail,
                   "spans": tracer.spans}, f, indent=1, default=str)
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in PER_LAYER.items()}}


def layer_metrics(w, tracer: Tracer, api: StatusApi, prefixes: dict,
                  plans: dict, pre_sampler: int, reps: list,
                  untraced: list[float]) -> tuple[dict, dict]:
    def groups(span_id: int, name: str | None = None) -> set[str]:
        return {tracer.group(c["span_id"]) for c in tracer.subtree(span_id)
                if name is None or c["name"] == name}

    def prefix_stats(layer: str) -> dict:
        st = api.group_stats(prefixes[layer]["groups"])
        rounds = len(prefixes[layer]["walls"])
        return {k: v if k == "stages" else v / rounds for k, v in st.items()}

    seq_s = prefixes["sequences"]["wall_s"]
    prefix_s = {}
    for layer in LAYERS:
        before_join = LAYERS.index(layer) < LAYERS.index("join")
        prefix_s[layer] = (prefixes[layer]["wall_s"]
                           + (seq_s if before_join else 0.0)
                           if layer in prefixes else None)
    selfs = self_times(prefix_s)

    per_rep = []
    for s, _ in reps:
        spans: dict[str, float] = {}
        for c in tracer.spans:
            if c["parent"] == s["span_id"]:
                spans[c["name"]] = spans.get(c["name"], 0.0) + c["dur_s"]
        total = api.group_stats(groups(s["span_id"]))
        after = rep_times(prefix_s["router"], spans)
        per_rep.append({
            "rep_s": s["dur_s"],
            "explained_s": prefix_s["router"] + sum(after.values()),
            **after,
            "jobs": total["jobs"], "tasks": total["tasks"],
            "shuffle_mb": total["shuffle_mb"], "spill_mb": total["spill_mb"],
            "translate_shuffle_mb": api.group_stats(groups(
                s["span_id"], "translate.write_sinks_translated")
            )["shuffle_mb"],
            "lineage_jobs": api.group_stats(groups(
                s["span_id"], "metrics.lineage_collect"))["jobs"],
        })

    def med(key: str) -> float:
        return statistics.median(x[key] for x in per_rep)

    q, cf, join = (prefix_stats(k) for k in ("quarantine", "carryforward",
                                              "join"))
    rows = {k: p["result"] for k, p in prefixes.items()}
    acc = accounting(med("explained_s"), statistics.median(untraced),
                     med("rep_s"))
    _, _, received, dropped = reps[-1][1]["counters"][0]
    last = reps[-1][1]
    m = {
        "scan.rows": rows["scan"] + rows["sequences"],
        "scan.read_mb": (plans["scan"]["read_bytes"]
                         + plans["sequences"]["read_bytes"]) / 1e6,
        "scan.self_s": selfs["scan"],
        "parse.rows_in": rows["scan"] if "parse" in prefixes else 0,
        "parse.self_s": selfs["parse"],
        "quarantine.dropped_rows": dropped,
        "quarantine.valid_ratio": (received - dropped) / received,
        "quarantine.self_s": selfs["quarantine"],
        "carryforward.self_s": selfs["carryforward"],
        "carryforward.shuffle_mb": cf["shuffle_mb"] - q["shuffle_mb"],
        "carryforward.spill_mb": cf["spill_mb"] - q["spill_mb"],
        "carryforward.task_skew": api.task_skew(cf["stages"]),
        "join.rows_out": rows["join"],
        "join.self_s": selfs["join"],
        "join.shuffle_mb": join["shuffle_mb"] - cf["shuffle_mb"]
                           - prefix_stats("sequences")["shuffle_mb"],
        "join.exchanges": (plans["join"]["exchanges"]
                           - plans["carryforward"]["exchanges"]),
        "join.broadcast_build_s": (
            plans["join"]["broadcast_build_ms"]
            - plans["carryforward"]["broadcast_build_ms"]) / 1e3,
        "enrich.rows_out": rows["enrich"],
        "enrich.self_s": selfs["enrich"],
        "router.rows_in": rows["enrich"],
        "router.rows_out": rows["router"],
        "router.fanout": rows["router"] / rows["enrich"],
        "router.sampler_keep_ratio": rows["router"] / pre_sampler,
        "router.self_s": selfs["router"],
        "sink_counts.self_s": med("sink_counts"),
        "translate.rows_written": sum(last.get("written", {}).values()),
        "translate.write_mb": (du_mb(w.sinks_dir)
                               if hasattr(w, "sinks_dir") else 0.0),
        "translate.shuffle_mb": med("translate_shuffle_mb"),
        "translate.self_s": med("translate"),
        "snapshot.write_s": med("snapshot_write"),
        "snapshot.write_mb": (du_mb(os.path.join(w.checkpoint_dir, "routed"))
                              if hasattr(w, "checkpoint_dir") else 0.0),
        "metrics.lineage_s": med("lineage"),
        "metrics.lineage_jobs": med("lineage_jobs"),
        "batcher.salted_counts_s": med("salted"),
        "spark.jobs": med("jobs"),
        "spark.tasks": med("tasks"),
        "spark.shuffle_mb_total": med("shuffle_mb"),
        "spark.spill_mb_total": med("spill_mb"),
        "trace.overhead_frac": acc["overhead_frac"],
        "trace.unexplained_frac": acc["unexplained_frac"],
    }
    detail = {
        "prefix_s": prefix_s, "self_s": selfs, "per_rep": per_rep,
        "accounting": acc,
        "untraced_rep_s": untraced,
        "join_kinds": plans["join"]["joins"],
        "join_kinds_upstream": plans["carryforward"]["joins"],
    }
    return m, detail
