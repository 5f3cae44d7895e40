"""Per-layer metrics from a traced replay.

Nothing inside the program is instrumented. The benchmark tags each call
into a layer with ``setJobGroup(<layer>)``, forces the layer's output with the
``noop`` sink, and rolls the group up from the Spark event log
(eventlog.py). The event-log listener is detached while set-up and untraced
work run, so only the replays are logged.

Layers are the program's modules. A layer a workload does not exercise is
reported with zero jobs, tasks and time.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import re
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from .eventlog import EventLogRollup

CORES = 4
PIPELINE_LAYERS = (
    "extract", "segment", "triples", "defs", "links", "canon", "linking",
    "materialize",
)
LAYERS = (*PIPELINE_LAYERS, "runner", "curate", "graph_queries", "driver_queries")
_BASE = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("rows_out", "rows", "higher"),
)
_EXTRAS = (
    ("extract.python_s", "s", "lower"),
    ("linking.linked_share", "ratio", "higher"),
    ("runner.commit_s", "s", "lower"),
    ("runner.files_written", "count", "lower"),
    ("runner.bytes_written_mb", "MB", "lower"),
    ("runner.partitions_touched", "count", "lower"),
    ("runner.write_amp", "ratio", "lower"),
    ("graph_queries.iter.jobs_per_query", "jobs", "lower"),
    ("graph_queries.lookup.jobs_per_query", "jobs", "lower"),
    ("driver_queries.jobs_per_query", "jobs", "lower"),
    ("graph_queries.iter.core_busy_share", "ratio", "higher"),
    ("graph_queries.lookup.core_busy_share", "ratio", "higher"),
    ("driver_queries.core_busy_share", "ratio", "higher"),
    ("trace.overhead_share", "ratio", "lower"),
)
# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = tuple(
    (f"{layer}.{m}", unit, better) for layer in LAYERS for m, unit, better in _BASE
) + _EXTRAS
_MB = 1024.0 * 1024.0


def force(df) -> None:
    """Execute df fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark, log_dir: str) -> None:
        self.spark = spark
        self.rollup = EventLogRollup(log_dir)
        self.walls: dict[str, float] = {}
        self._jsc = spark.sparkContext._jsc.sc()
        self._listener = self._jsc.eventLogger().get()
        self._jsc.removeSparkListener(self._listener)

    @contextmanager
    def attached(self):
        self._jsc.listenerBus().addToEventLogQueue(self._listener)
        try:
            yield
        finally:
            self._jsc.listenerBus().waitUntilEmpty()
            self._jsc.removeSparkListener(self._listener)
            self.rollup.poll()

    def call(self, key: str, fn):
        """Run fn() with its Spark jobs tagged ``key``; its wall is added to
        the key's total. Returns fn's result."""
        sc = self.spark.sparkContext
        sc.setJobGroup(key, key)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[key] = self.walls.get(key, 0.0) + time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._jsc.listenerBus().waitUntilEmpty()
            self.rollup.poll()

    def wall(self, prefix: str) -> float:
        return sum(
            (w for k, w in self.walls.items()
            if k == prefix or k.startswith(prefix + "/")),
            0.0,
        )

    def layer_metrics(self) -> dict[str, float]:
        out = {name: 0.0 for name, _, _ in PER_LAYER}
        for layer in LAYERS:
            g = self.rollup.total(layer)
            out.update({
                f"{layer}.wall_s": self.wall(layer),
                f"{layer}.jobs": float(g.jobs),
                f"{layer}.tasks": float(g.tasks),
                f"{layer}.task_s": g.run_ms / 1000.0,
                f"{layer}.cpu_s": g.cpu_ns / 1e9,
                f"{layer}.shuffle_mb": g.shuffle_write_bytes / _MB,
                f"{layer}.spill_mb": g.disk_spill_bytes / _MB,
                f"{layer}.task_skew": g.task_skew(),
            })
        return out

    def close(self) -> None:
        self.rollup.close()


def n_rows(workdir: str, stage: str) -> int:
    with open(os.path.join(workdir, stage, "manifest.json")) as f:
        return int(json.load(f)["n_rows"])


def listing(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(size for size, _ in listing(path).values())


def replay_pipeline(tracer: Tracer, spark, pages_path: str, ref: str) -> dict:
    """Re-execute each pipeline layer's public function over the committed
    inputs of the build in ``ref``: once to warm up, once untraced, once
    traced (the last two give the tracing overhead). rows_out is the row
    count that build committed for the layer's stage(s)."""
    from pyspark.sql import functions as F

    from codegraphcontext_spark.extract import extract_stage
    from codegraphcontext_spark.pipeline.canon import canonicalize_entities
    from codegraphcontext_spark.pipeline.linking import (
        build_dictionary, link_mentions, mentions_long,
    )
    from codegraphcontext_spark.pipeline.materialize import (
        edges_from_occurrences, materialize_graph,
    )
    from codegraphcontext_spark.pipeline.segment import segment_stage
    from codegraphcontext_spark.pipeline.triples import (
        defs_stage, links_stage, patterns_df, triples_stage,
    )
    from codegraphcontext_spark.sources import read_pages

    def load(stage):
        return spark.read.parquet(os.path.join(ref, stage, "data"))

    def extract():
        pages = read_pages(spark, pages_path).withColumn("snap_md5", F.md5("html"))
        return [extract_stage(pages, keep=("url", "warc_ts", "lang", "snap_md5"))]

    def materialize():
        nodes, _, occ = materialize_graph(
            load("docs"), load("triples"), load("linked"), load("canon"),
            load("links"),
        )
        return [nodes, occ, edges_from_occurrences(load("edge_occurrences"))]

    layers = {
        "extract": (extract, ["docs"]),
        "segment": (lambda: [segment_stage(load("docs"))], ["sentences"]),
        "triples": (
            lambda: [triples_stage(load("sentences"), patterns_df(spark))],
            ["triples"],
        ),
        "defs": (lambda: [defs_stage(load("sentences"))], ["defs"]),
        "links": (
            lambda: [links_stage(read_pages(spark, pages_path).select("url", "html"))],
            ["links"],
        ),
        "canon": (lambda: [canonicalize_entities(load("defs"))], ["canon"]),
        "linking": (
            lambda: [link_mentions(
                mentions_long(load("triples"), load("defs")),
                build_dictionary(load("canon")),
            )],
            ["linked"],
        ),
        "materialize": (materialize, ["nodes", "edges", "edge_occurrences"]),
    }
    def replay_untraced() -> float:  # listener detached: the same ops untraced
        t0 = time.perf_counter()
        for build, _ in layers.values():
            for df in build():
                force(df)
        return time.perf_counter() - t0

    # the build before the replays is the session's first, so one round
    # warms the replays up; the untraced and traced rounds then run alike
    replay_untraced()
    untraced = replay_untraced()
    out = {}
    with tracer.attached():
        for layer, (build, stages) in layers.items():
            tracer.call(layer, lambda build=build: [force(df) for df in build()])
            out[f"{layer}.rows_out"] = float(sum(n_rows(ref, s) for s in stages))
        out["extract.python_s"] = _python_s(tracer, spark, extract)
    traced = sum(tracer.wall(layer) for layer in layers)
    out["trace.overhead_share"] = traced / untraced - 1.0
    linked = pq.read_table(os.path.join(ref, "linked", "data"), columns=["entity_id"])
    out["linking.linked_share"] = 1.0 - linked.column(0).null_count / max(
        linked.num_rows, 1
    )
    return out


def _python_s(tracer: Tracer, spark, extract) -> float:
    """Python time inside the extraction UDF, from Spark's perf UDF
    profiler, in an extra replay outside the extract layer's figures."""
    conf = "spark.sql.pyspark.udf.profiler"
    spark.profile.clear(type="perf")
    spark.conf.set(conf, "perf")
    try:
        tracer.call("profile", lambda: [force(df) for df in extract()])
    finally:
        spark.conf.unset(conf)
    out_dir = os.path.join(os.path.dirname(tracer.rollup.log_dir), "profile")
    spark.profile.dump(out_dir, type="perf")
    spark.profile.clear(type="perf")
    return sum(
        pstats.Stats(p).total_tt
        for p in glob.glob(os.path.join(out_dir, "**", "*.pstats"), recursive=True)
    )


def runner_extras(
    tracer: Tracer, before: dict, after: dict, pages_path: str, runner, op_s: float,
) -> dict:
    """Write-path figures of one traced PipelineRunner op, from workdir
    listings taken before and after it. commit_s is derived: the op's wall
    minus the summed walls of the replayed pipeline layers."""
    written = {p: v for p, v in after.items() if before.get(p) != v}
    nbytes = sum(size for size, _ in written.values())
    parts = {
        (os.path.dirname(p), m.group(1))
        for p in written
        if (m := re.match(r"part-(\d+)-", os.path.basename(p)))
    }
    rows = sum(
        m.get("n_rows", 0) for m in (runner.metrics.values() if runner else [])
    )
    return {
        "runner.commit_s": op_s - sum(tracer.wall(layer) for layer in PIPELINE_LAYERS),
        "runner.files_written": float(len(written)),
        "runner.bytes_written_mb": nbytes / _MB,
        "runner.partitions_touched": float(len(parts)),
        "runner.write_amp": nbytes / max(_tree_bytes(pages_path), 1),
        "runner.rows_out": float(rows),
    }


def query_extras(tracer: Tracer, fns: dict, layer_of, klass_of) -> dict:
    out = {}
    for prefix, names in (
        ("graph_queries/iter", "graph_queries.iter"),
        ("graph_queries/lookup", "graph_queries.lookup"),
        ("driver_queries", "driver_queries"),
    ):
        n = sum(1 for q in fns if f"{layer_of(q)}/{klass_of(q)}".startswith(prefix))
        g = tracer.rollup.total(prefix)
        wall = tracer.wall(prefix)
        out[f"{names}.jobs_per_query"] = g.jobs / max(n, 1)
        out[f"{names}.core_busy_share"] = (g.run_ms / 1000.0) / max(wall * CORES, 1e-9)
    return out
