#!/usr/bin/env python3
"""The engine's benchmark, one workload per invocation.

    python3 perfbench/run.py --workload near_dup_batch --seed 1 --seconds 12 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` and
cached under ``.perfbench/inputs``; set-up, warm-up and checks are never
timed.  ``--trace 0`` times passes for ``--seconds`` and reports the
end-to-end metrics; ``--trace 1`` adds one traced pass (Spark event log,
one job group per layer) and reports the per-layer metrics.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  Metric definitions are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "dedup_gpu_stream_parallelism_spark"
CPUS = 4
SETUPS = 3


def host_record() -> dict:
    """nproc, load, commit and raw sha256 probe values (no gates)."""
    buf = b"\xab" * (1 << 20)

    def sha(mib: int) -> None:
        h = hashlib.sha256()
        for _ in range(mib):
            h.update(buf)

    t0 = time.perf_counter()
    sha(256)
    single = 256 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(CPUS) as ex:
        list(ex.map(sha, [64] * CPUS))
    multi = CPUS * 64 / (time.perf_counter() - t0)
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "commit": commit,
        "sha256_1t_mib_s": round(single, 1),
        f"sha256_{CPUS}t_mib_s": round(multi, 1),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


class Sessions:
    """Builds sessions through ``session.build_session`` with every scratch
    location inside the run directory, and shuts the JVM down at the end."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        for sub in ("local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)

    def build(self, event_log: bool = False):
        from dedup_gpu_stream_parallelism_spark.session import build_session

        r = self.run_dir
        extra = {
            "spark.local.dir": os.path.join(r, "local"),
            "spark.sql.warehouse.dir": os.path.join(r, "warehouse"),
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            extra["spark.eventLog.dir"] = os.path.join(r, "eventlog")
        spark = build_session("perfbench", cpus=CPUS, extra=extra)
        # Python workers start on the first Arrow UDF; warm them here.
        spark.range(CPUS * 4, numPartitions=CPUS).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        return spark

    @staticmethod
    def jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    @staticmethod
    def shutdown(spark) -> None:
        from pyspark import SparkContext

        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def layer_metrics(tr, groups: dict, stream_run_id: str | None) -> dict:
    """Per-layer values for every catalogued name; layers the workload does
    not run read 0."""
    from perfbench.eventlog import GroupStats
    from perfbench.metrics import LAYER_BASE, LAYER_EXTRAS, LAYERS

    out: dict[str, float] = {}
    for layer in LAYERS:
        key = stream_run_id if layer == "stream" else layer
        g = groups.get(key) or GroupStats()
        vals = {
            "s": tr.spans.get(layer, 0.0),
            "rows_in": tr.rows_in.get(layer, 0),
            "rows_out": tr.rows_out.get(layer, 0),
            "jobs": g.jobs,
            "tasks": g.tasks,
            "task_ms": g.task_ms,
            "cpu_ms": g.cpu_ms,
            "gc_ms": g.gc_ms,
            "shuffle_read_bytes": g.shuffle_read_bytes,
            "shuffle_write_bytes": g.shuffle_write_bytes,
            "spill_bytes": g.spill_bytes,
            "task_skew": g.task_skew(),
        }
        for suffix, _unit, _better in LAYER_BASE:
            out[f"{layer}.{suffix}"] = vals[suffix]
    stream = groups.get(stream_run_id) if stream_run_id else None
    for name, _unit, _better in LAYER_EXTRAS:
        out[name] = tr.extras.get(name, 0.0)
    if stream is not None:
        out["stream.jobs_per_trigger"] = stream.jobs_per_batch()
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.metrics import check_name, per_layer_catalogue, summarize
    from perfbench.workloads import WORKLOADS, Check, Expected, Tracer

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(bench_dir, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # Python workers import the engine from the checkout; every temp file
    # of this process, the JVMs (Spark's launcher too) and the workers stays
    # in the run dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    sessions = Sessions(run_dir)

    host = host_record()
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](
        args.seed, os.path.join(bench_dir, "inputs"), os.path.join(run_dir, "work")
    )
    input_s = time.perf_counter() - t_gen
    expected = Expected(os.path.join(HERE, "expected.json"), os.path.join(bench_dir, "expected.json"))

    phases = {"input_s": input_s}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    spark = None
    try:
        setup = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = sessions.build()
            setup.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                spark.stop()
        phase("setup_s")
        wl.warm(spark)
        phase("warm_s")

        budget = args.seconds / 2 if args.trace else args.seconds
        passes, attempted, failed = [], 0, 0
        t_end = time.perf_counter() + budget
        while failed < 3:
            attempted += 1
            try:
                passes.append(wl.run(spark))
            except Exception:
                failed += 1
                traceback.print_exc()
            if time.perf_counter() >= t_end and len(passes) >= (1 if args.trace else wl.min_passes):
                break
        phase("passes_s")
        try:
            checks = wl.checks(spark, passes, expected)
        except Exception:
            traceback.print_exc()
            checks = [Check("checks_ran", False)]
        rss = vm_hwm_mb(Sessions.jvm_pid())
        phase("checks_s")

        traced = per_layer = None
        if args.trace:
            spark.stop()
            spark = sessions.build(event_log=True)
            tr = Tracer(spark)
            traced = wl.traced(spark, tr)
            spark.stop()
            spark = None
            from perfbench.eventlog import aggregate, iter_events

            groups = aggregate(iter_events(os.path.join(run_dir, "eventlog")))
            per_layer = layer_metrics(tr, groups, traced.get("run_id"))
            untraced = statistics.median(p.wall_s for p in passes) if passes else 0.0
            per_layer["trace.overhead_pct"] = (
                100.0 * (traced["wall_s"] - untraced) / untraced if untraced else 0.0
            )
            if "digest" in traced and passes:
                checks.append(
                    Check("traced_digest_matches", traced["digest"] == passes[-1].out["digest"])
                )
            phase("traced_s")
    finally:
        Sessions.shutdown(spark)
    phase("shutdown_s")

    attempted += len(checks)
    failed += sum(not c.ok for c in checks)
    correct = bool(passes) and all(c.ok for c in checks)

    # ---- end-to-end metrics (all workloads) ----
    lat = [x for p in passes for x in p.latencies]
    walls = [p.wall_s for p in passes]
    e2e = {}
    if passes:
        wall = statistics.median(walls)
        e2e = {
            "setup_s": (statistics.median(setup), "s"),
            "wall_s": (wall, "s"),
            "mb_per_s": (wl.text_mb() / wall, "MB/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
        }
    extra = {
        "peak_rss_mb": (rss, "MB"),
        "attempted_ops": (attempted, "count"),
        "failed_ops": (failed, "count"),
        **(wl.details(passes) if passes else {}),
    }
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "input": wl.input_record(),
        "phases_s": phases,
        "setup_samples_s": setup,
        "pass_wall_s": walls,
        "latency": summarize(lat) if lat else None,
        "latency_samples_s": lat,
        "checks": [vars(c) for c in checks],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "extra": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
    }
    if per_layer is not None:
        detail["per_layer"] = per_layer

    os.makedirs(os.path.join(bench_dir, "results"), exist_ok=True)
    with open(os.path.join(bench_dir, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in per_layer_catalogue()}
    if args.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in (per_layer or {}).items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k in metrics:
        check_name(k)
    for k, m in list(metrics.items()) + list(detail["extra"].items()):
        print(f"{wl.name:16s} {k:32s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
