#!/usr/bin/env python3
"""Benchmark runner: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload curation_batch --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The runner builds its input tables inside
the checkout (``.perfbench_cache/``), pins the Spark environment, runs
the workload as a closed loop with one client on ``local[<nproc>]``,
checks every op's output outside the timed windows, stops every process
it started and prints, last on stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md). The lines above it print every metric,
including the workload-specific ones, and the full record (per-op
layer numbers, environment) is written to ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

PROCESS_T0 = time.perf_counter()    # setup_s counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The end-to-end metrics every workload reports in its result line
# (BENCHMARK.json lists them), and the universal per-layer metrics of a
# traced run. The other end-to-end metrics (EXTRA) are printed and
# recorded: op_p90_s needs 100 ops, failed_frac is the result line's
# failed/attempted, peak_rss_mb varies with the JVM's heap growth by more
# than any allowed bound, and the last three exist only for ingest.
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s"}
EXTRA = {"peak_rss_mb": "MB", "op_p90_s": "s", "op_samples": "count",
         "failed_frac": "ratio", "read_p50_s": "s", "rows_per_s": "rows/s",
         "space_amp": "ratio"}
PER_LAYER = {
    "engine.session_s": "s", "engine.catalog_load_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "spark.action_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.cpu_util": "ratio",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.driver_gap_s": "s",
    "plan.exchanges": "count", "plan.broadcasts": "count",
    "plan.python_nodes": "count", "plan.scans": "count",
    "cache.entries": "count", "cache.mem_bytes": "bytes", "cache.release_s": "s",
    "trace.overhead_frac": "ratio",
}
# Reported and recorded, but not in the result line every workload
# shares: the layers only ingest_refresh reaches, and spill (zero here).
REPORT_ONLY_LAYER = {
    "tableformat.merge_s": "s", "tableformat.chunks_rewritten": "count",
    "tableformat.write_amp": "ratio", "tableformat.live_files": "count",
    "tableformat.scan_files_kept_frac": "ratio", "tableformat.compact_s": "s",
    "tableformat.vacuum_s": "s", "ingest.run_s": "s", "ingest.rows": "count",
    "pipelines.datagen_write_s": "s", "pipelines.ledger_rows": "count",
    "pipelines.retention_s": "s", "spark.spill_bytes": "bytes",
}
# per-op layer metrics that are levels, not amounts: a pass reports the
# last op's value (or the peak, for the cache footprint) instead of a sum
LEVELS = {"tableformat.live_files", "tableformat.scan_files_kept_frac",
          "pipelines.ledger_rows"}
PEAKS = {"cache.mem_bytes"}


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ------------------------------------------------------------- processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants
    (driver JVM, Python workers), sampled while started."""

    PERIOD_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.PERIOD_S)

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ environment

def pin_environment(work_dir: str) -> dict:
    """Set, and return, every environment input of the run."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    tmp = os.path.join(work_dir, "tmp")
    for d in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work_dir, d))
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # well below physical RAM: the engine's default is 48g
        "SPARK_DRIVER_MEM": f"{min(4096, ram_mb // 3)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(work_dir, "scratch"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, os.path.join(ROOT, "tools")]),
        # every JVM, the launcher's included: temp files inside the run dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONFS": "",
        "LAS_CAPTURE_PLANS": "0",
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR
    env["physical_ram_mb"] = str(ram_mb)
    return env


def stop_spark(run) -> None:
    """Stop the session and the JVM the gateway launched, then wait
    until every process this run started has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if run is not None and run.spark is not None:
        run.spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()        # the gateway JVM exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ----------------------------------------------------------------- report

def _sum_pass(ops: list[dict], cores: int) -> dict:
    keys = {k for r in ops for k in r if "." in k}
    out = {}
    for k in keys:
        vals = [r[k] for r in ops if k in r]
        out[k] = vals[-1] if k in LEVELS else max(vals) if k in PEAKS else sum(vals)
    wall = sum(r.get("wall_s", 0.0) + r.get("read_s", 0.0) for r in ops)
    out["spark.cpu_util"] = out.get("spark.executor_cpu_s", 0.0) / (wall * cores)
    return out


def summarize(run, workload) -> dict:
    from stats import median, tail_percentile

    op_s = [s for p in run.passes for s in p["op_s"]]
    e2e = {
        "setup_s": run.marks["warmup"] - run.cache_build_s,
        "op_p50_s": median(op_s) if op_s else None,
        "pass_s": median([p["pass_s"] for p in run.passes]),
    }
    attempted = len(run.ops)
    failed = sum(1 for r in run.ops if not r["ok"])
    extra = {
        "peak_rss_mb": run.rss.peak / 2**20,
        "op_p90_s": tail_percentile(op_s, 90),
        "op_samples": len(op_s),
        "failed_frac": failed / attempted,
    }
    if run.workload == "ingest_refresh":
        extra["read_p50_s"] = median([s for p in run.passes for s in p["read_s"]])
        extra["rows_per_s"] = (sum(p["rows"] for p in run.passes)
                               / sum(p["pass_s"] for p in run.passes))
        extra["space_amp"] = workload.space_amp()

    layers = {}
    if run.traced:
        per_pass = [_sum_pass([r for r in run.ops if r["pass"] == p["pass"]
                               and r["traced"] and r["ok"]], run.cores)
                    for p in run.passes]
        names = set().union(*per_pass)
        layers = {k: median([pp.get(k, 0) for pp in per_pass]) for k in names}
        for k in ("engine.session_s", "engine.catalog_load_s"):
            layers[k] = run.setup[k]
        layers["trace.overhead_frac"] = (
            median([p["traced_pass_s"] for p in run.passes]) / e2e["pass_s"] - 1)
    return {"end_to_end": e2e, "extra": extra, "layers": layers,
            "attempted": attempted, "failed": failed}


def print_report(record: dict) -> None:
    s = record["summary"]
    print(f"perfbench {record['workload']} seed={record['seed']} "
          f"trace={record['trace']} passes={len(record['passes'])}")
    units = {**END_TO_END, **EXTRA}
    for name, value in {**s["end_to_end"], **s["extra"]}.items():
        shown = "n/a (needs 100 ops)" if value is None else f"{value:.6g}"
        print(f"  {name:34s} {shown:>14s} {units[name]}")
    for name in sorted(s["layers"]):
        unit = PER_LAYER.get(name) or REPORT_ONLY_LAYER.get(name, "")
        print(f"  {name:34s} {s['layers'][name]:>14.6g} {unit}")
    for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS",
              "SPARK_GRAFT_SCRATCH", "physical_ram_mb"):
        print(f"  env {k}={record['env'][k]}")
    bad = [r for r in record["ops"] if not r["ok"]]
    for r in bad[:5]:
        print(f"  FAILED {r['key']} pass={r['pass']}: {r['detail']}")


# ------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(os.getcwd(), ".perfbench_runs"),
                    help="directory for the full run record")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "lakehouse_automation_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py"))):
        return _fail(f"engine sources not found under {ROOT}")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    work_dir = os.path.join(os.getcwd(), ".perfbench_work",
                            f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work_dir)
    run = None
    try:
        env = pin_environment(work_dir)
        import datagen
        from workloads import DEFAULT_SEED, WORKLOADS, Run

        if args.workload not in WORKLOADS:
            return _fail(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
        seed = DEFAULT_SEED if args.seed is None else args.seed
        cache_dir = os.path.join(os.getcwd(), ".perfbench_cache")
        t0 = time.perf_counter()
        data_dir, built = datagen.ensure_tables(cache_dir)
        run = Run(args.workload, seed, args.seconds, bool(args.trace),
                  int(env["SPARK_GRAFT_CPUS"]), data_dir, work_dir, cache_dir,
                  datagen.fingerprint(), RssSampler(), PROCESS_T0,
                  time.perf_counter() - t0 if built else 0.0)
        workload = WORKLOADS[args.workload](run)
        workload.execute()
        summary = summarize(run, workload)
        run.mark("checked")
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_spark(run)
        shutil.rmtree(work_dir, ignore_errors=True)

    record = {"workload": args.workload, "seed": seed, "trace": args.trace,
              "seconds": args.seconds, "env": env, "summary": summary,
              "phases_s": run.marks, "setup": run.setup,
              "cache_build_s": run.cache_build_s, "passes": run.passes,
              "ops": run.ops}
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{args.workload}-seed{seed}-trace{args.trace}-"
                                  f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print_report(record)
    print(f"  record {path}")

    if args.trace:
        metrics = {k: {"value": summary["layers"].get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": summary["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": summary["failed"] == 0,
                      "attempted": summary["attempted"],
                      "failed": summary["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
