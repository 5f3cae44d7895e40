"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints progress and a host fingerprint on
earlier lines and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, measured with the
event log off; with ``--trace 1`` they are its per-layer metrics, from a
traced replay. Everything the run writes stays under ``perfbench/_work``
(wiped at the start of every run) and ``perfbench/_ledger``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, "_work")
LEDGER = os.path.join(BENCH, "_ledger")


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _prepare_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher's too: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return dirs


def _session(dirs: dict[str, str], trace: bool):
    from codegraphcontext_spark.session import get_spark
    from perfbench.trace import CORES

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.rolling.maxFileSize": "10m",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM gateway; wait for every process the run
    started to end."""
    from perfbench.host import descendants, reap

    pids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - reap() below kills it
            pass
    killed = reap(pids)
    if killed:
        print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "codegraphcontext_spark")):
        _die("no codegraphcontext_spark package here; run from a checkout root")
    declared = _declared()
    sys.path.insert(0, ROOT)
    from perfbench.host import RssSampler, cpu_ticks, fingerprint, jvm_gc_s, steal_share
    from perfbench.ops import Tally
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ledger

    if args.workload not in WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = _prepare_env()
    tally = Tally()
    ledger = Ledger(os.path.join(LEDGER, f"{args.workload}-seed{args.seed}.json"))

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _session(dirs, bool(args.trace))
        try:
            tracer = Tracer(spark, dirs["eventlog"]) if args.trace else None
            wl = WORKLOADS[args.workload](spark, WORK, args.seed, tally, ledger)
            wl.setup()
            setup_s = time.perf_counter() - t0
            ticks, gc_s = cpu_ticks(), jvm_gc_s(spark)
            if tracer is None:
                measured = wl.measure(args.seconds)
            else:
                layer = wl.traced(tracer)
            load = {
                "host_steal_share": steal_share(ticks, cpu_ticks()),
                "jvm_gc_s": jvm_gc_s(spark) - gc_s,
            }
            host = fingerprint(spark)
        finally:
            _stop(spark)
        if tracer is not None:
            log_mb = tracer.rollup.bytes_read / 2**20
            tracer.close()
    ledger.save()
    shutil.rmtree(WORK, ignore_errors=True)

    # the load beside the figures: other tenants' share of the host's CPU and
    # the driver JVM's GC time, both over the measured (or traced) span
    print(json.dumps({
        "host": host, "load": load, "workload": args.workload, "seed": args.seed,
    }))
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "primary_s": (measured["primary_s"], "s"),
        }
        named = dict(measured["named"])
        named["peak_rss_mb"] = (rss.peak_mb, "MB")
        named["failed_op_share"] = (tally.failed / max(tally.attempted, 1), "ratio")
        print(json.dumps({"named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
        want = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        print(json.dumps({"event_log_mb_read": log_mb}))
        want = {m["name"]: m["unit"] for m in declared["per_layer"]}
        out = {k: {"value": layer[k], "unit": want.get(k, "")} for k in layer}
    for v in out.values():  # a failed op leaves no sample; correct is false then
        v["value"] = v["value"] if math.isfinite(v["value"]) else 0.0
    if {k: v["unit"] for k, v in out.items()} != want:
        _die(f"metrics {sorted(out)} do not match BENCHMARK.json {sorted(want)}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out,
    }))


if __name__ == "__main__":
    main()
