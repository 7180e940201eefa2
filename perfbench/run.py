"""The repository's benchmark: one closed-loop client running one workload
against the package's public functions on ``local[N]`` Spark.

    python3 perfbench/run.py --workload reference_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``, sets
up the session (three times; the median counts), times operations for
``--seconds`` seconds of loop time, checks every output outside the timings,
and prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics, from spans
around each call into a layer and from Spark's per-stage REST counters. The
line before it (``{"detail": ...}``) holds the host-noise probe, the tail
percentile used and the failure base. Everything the run writes lives under
``.perfbench_run/`` in the repository and is removed before exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REQUIRED = ("elt_gluepipeline_spark/__init__.py", "bench.py",
            "tools/check_correctness.py")
SETUPS = 3
CPUS = max(1, min(4, os.cpu_count() or 1))
# a fixed-size heap: G1 then neither grows nor shrinks it, so the driver's
# resident peak does not depend on when collections happened to run
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "1/s", "rows_per_s": "rows/s",
              "peak_rss_mb": "MB", "space_amp": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.run_s": "s",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.self_s": "s",
    "operators.caches": "count", "operators.self_s": "s",
    "pipeline.ingest_s": "s", "pipeline.transform_s": "s",
    "pipeline.quality_s": "s", "pipeline.metric_s": "s",
    "pipeline.rows_ingested": "rows", "pipeline.quarantine_frac": "ratio",
    "pipeline.self_s": "s",
    "sources.write_amp": "ratio",
    "streaming.merge_s": "s",
    "streaming.buckets_touched_frac": "ratio", "streaming.write_amp": "ratio",
    "streaming.read_s": "s", "streaming.files_per_bucket": "count",
    "streaming.maintain_s": "s", "streaming.maintain_bytes": "bytes",
    "streaming.self_s": "s",
    "driver.gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio", "executor.shuffle_write_mb": "MB",
    "executor.shuffle_read_mb": "MB", "executor.spill_mb": "MB",
    "executor.failed_tasks": "count",
    "bench.self_s": "s", "trace.rest_s": "s",
}


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    never below the median."""
    return max(50, math.floor(100 * (1 - 10 / n))) if n else 50


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class Harness:
    """One run: inputs, set-up, timed loop, checks, metrics."""

    def __init__(self, args, root: str):
        import workloads
        from spans import Tracer
        self.args, self.root, self.seed = args, root, args.seed
        self.workload = workloads.WORKLOADS[args.workload]()
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.rest = None
        self._paused = 0.0
        self._op = -1
        self._op_layers: dict[str, float] = {}
        self._op_counts: dict[str, float] = {}

    # -- hooks the workloads call ------------------------------------------
    @contextlib.contextmanager
    def untimed(self):
        """Work inside is excluded from operation latency and loop time, and
        (as an ``untimed`` child span) from its parent's self time."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span("untimed", self._op):
                yield
        finally:
            self._paused += time.perf_counter() - t0

    @contextlib.contextmanager
    def layer(self, name: str, op_id: int, group: str | None = None):
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op_id):
                yield
        finally:
            self._op_layers[name] = (self._op_layers.get(name, 0.0)
                                     + time.perf_counter() - t0)

    def count(self, name: str, value: float) -> None:
        self._op_counts[name] = self._op_counts.get(name, 0) + value

    # -- phases --------------------------------------------------------------
    def make_inputs(self) -> None:
        import datagen
        sf = 0.001 if self.args.smoke else self.workload.sf
        self.sf_dir = os.path.join(self.root, "data")
        os.makedirs(self.sf_dir)
        tables = datagen.make_tables(self.seed, sf)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.table_rows = {n: t.num_rows for n, t in tables.items()}
        self.source_logical_bytes = sum(t.nbytes for t in tables.values())
        self.source_disk_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{n}.parquet"))
            for n in tables)

    def _warmup(self) -> None:
        """One shuffle aggregate. Python workers start on first use, in the
        workload's preparation: a stopped session takes its workers with it,
        so warming them here would cost every set-up cycle their start."""
        (self.spark.range(200_000, numPartitions=8)
             .selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v")
             .write.format("noop").mode("overwrite").save())

    def set_up(self) -> None:
        """``get_spark`` plus warm-up, SETUPS times (the first launches the
        JVM); each cycle but the last stops its session."""
        from elt_gluepipeline_spark.session import get_spark
        java_opts = (f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir="
                     + os.path.join(self.root, "tmp"))
        self.setup_samples, self.warmups = [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark(
                    "perfbench", master=f"local[{CPUS}]",
                    extra_conf={"spark.ui.showConsoleProgress": "false",
                                "spark.driver.extraJavaOptions": java_opts})
            t1 = time.perf_counter()
            if i == 0:
                self.start_s = t1 - t0
                self.spark.sparkContext.setLogLevel("ERROR")
            with self.tracer.span("session.warmup"):
                self._warmup()
            t2 = time.perf_counter()
            self.warmups.append(t2 - t1)
            self.setup_samples.append(t2 - t0)
            if i < SETUPS - 1:
                self.spark.stop()

    def run_loop(self) -> list[dict]:
        args, w = self.args, self.workload
        if args.trace:
            from spans import StageReader
            self.rest = StageReader(self.spark)
        rng = np.random.default_rng([self.seed, 2])
        records: list[dict] = []
        self._paused = 0.0
        loop_t0 = time.perf_counter()
        steal0, total0 = _cpu_ticks()
        elapsed = lambda: time.perf_counter() - loop_t0 - self._paused  # noqa: E731
        op_id, passes = 0, 0
        # whole passes only, at least the workload's minimum, so every run
        # times the same multiset of operations and the tail percentile does
        # not depend on host speed; the pass that crosses --seconds finishes
        while True:
            for op in w.pass_ops(rng):
                records.append(self._one(op, op_id))
                op_id += 1
            passes += 1
            if args.smoke or (passes >= w.min_passes
                              and elapsed() >= args.seconds):
                break
        self.loop_s = elapsed()
        steal1, total1 = _cpu_ticks()
        # CPU time the hypervisor gave to other guests during the loop
        self.steal_frac = (steal1 - steal0) / max(1, total1 - total0)
        self.passes = passes
        return records

    def _one(self, op, op_id: int) -> dict:
        self._op_layers, self._op_counts = {}, {}
        self._op = op_id
        paused0 = self._paused
        rec = {"id": op_id, "kind": op.kind, "ok": True, "rows": 0}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op_id):
                rec["rows"] = op.fn(self, op_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        rec["lat"] = time.perf_counter() - t0 - (self._paused - paused0)
        rec["layers"], rec["counts"] = self._op_layers, self._op_counts
        self._op = -1
        if self.rest is not None:
            with self.untimed():
                t1 = time.perf_counter()
                rec["rest"] = self.rest.groups(f"op{op_id}",
                                               f"op{op_id}.build")
                rec["rest_s"] = time.perf_counter() - t1
        return rec

    # -- metrics -----------------------------------------------------------
    def end_to_end(self, records) -> dict:
        lat = sorted(r["lat"] for r in records)
        q = tail_percentile(len(lat))
        tail = float(np.percentile(lat, q))
        self.tail = {"percentile": q, "samples": len(lat),
                     "beyond": sum(1 for x in lat if x > tail)}
        rss_kb = _vm_hwm_kb(os.getpid())
        jvm = _jvm_pid()
        if jvm:
            rss_kb += _vm_hwm_kb(jvm)
        return {
            "setup_s": statistics.median(self.setup_samples) + self.prepare_s,
            "op_p50_s": float(np.percentile(lat, 50)),
            "op_tail_s": tail,
            "ops_per_s": len(records) / self.loop_s,
            "rows_per_s": sum(r["rows"] for r in records) / self.loop_s,
            "peak_rss_mb": rss_kb / 1024,
            "space_amp": self.space_amp,
        }

    def per_layer(self, records) -> dict:
        vals: dict[str, float] = {k: 0.0 for k in PER_LAYER}

        def med(xs):
            return float(statistics.median(xs)) if xs else 0.0

        by_metric: dict[str, list[float]] = {}
        for r in records:
            for name, secs in r["layers"].items():
                by_metric.setdefault(f"{name}_s", []).append(secs)
            for name, v in r["counts"].items():
                by_metric.setdefault(name, []).append(v)
        for k, xs in by_metric.items():
            if k in vals:
                vals[k] = med(xs)
        rest = [r for r in records if "rest" in r]
        if rest:
            tot = lambda k: [r["rest"][k] for r in rest]  # noqa: E731
            vals["plans.build_jobs"] = med(tot("build_jobs"))
            for k in ("jobs", "stages", "tasks"):
                vals[f"plans.{k}"] = med(tot(k))
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_mb",
                      "shuffle_read_mb", "spill_mb"):
                vals[f"executor.{k}"] = med(tot(k))
            vals["executor.failed_tasks"] = float(sum(tot("failed_tasks")))
            vals["executor.busy_frac"] = med(
                [r["rest"]["run_s"] / (r["lat"] * CPUS) for r in rest])
            vals["driver.gap_s"] = med(
                [r["lat"] - r["rest"]["stage_union_s"] for r in rest])
            vals["trace.rest_s"] = med([r["rest_s"] for r in rest])
        # self time per layer, per operation, from the span tree
        selfs = self.tracer.self_times()
        per_op: dict[str, dict[int, float]] = {}
        for s in self.tracer.spans:
            if s.op < 0:
                continue
            layer = "bench" if s.name == "op" else s.name.split(".")[0]
            d = per_op.setdefault(f"{layer}.self_s", {})
            d[s.op] = d.get(s.op, 0.0) + selfs[s.sid]
        for k, d in per_op.items():
            if k in vals:
                vals[k] = med(list(d.values()))
        vals["session.start_s"] = self.start_s
        vals["session.warmup_s"] = med(self.warmups)
        if hasattr(self.workload, "layer_values"):
            vals.update(self.workload.layer_values())
        return vals


def _jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM and
    every process under it (Python workers) to end."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return
    kids = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()          # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # Python workers outlive a JVM that did not stop them; they hold no
    # state the run needs
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in filter(_alive, kids):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.time() + grace
        while any(map(_alive, kids)) and time.time() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, root: str) -> dict:
    from bench import calibration_sec

    h = Harness(args, root)
    phases, t0 = {}, time.perf_counter()

    def phase(name):
        nonlocal t0
        t1 = time.perf_counter()
        phases[name] = t1 - t0
        t0 = t1

    h.make_inputs()
    phase("inputs")
    h.set_up()
    phase("setups")
    cal_start = calibration_sec(h.spark)
    phase("calibration_start")
    paused0 = h._paused
    with h.tracer.span("bench.prepare"):
        h.workload.prepare(h)
    phase("prepare")
    # the checks made during preparation are not set-up
    h.prepare_s = phases["prepare"] - (h._paused - paused0)
    records = h.run_loop()
    phase("loop")
    bad = h.workload.check(h)
    for r in records:
        if r["kind"] in bad:
            r["ok"] = False
    h.space_amp = h.workload.space_amp(h)
    phase("check")
    cal_end = calibration_sec(h.spark)
    phase("calibration_end")
    failed = sum(1 for r in records if not r["ok"])
    if args.trace:
        metrics = {k: (v, PER_LAYER[k]) for k, v in h.per_layer(records).items()}
    else:
        metrics = {k: (v, END_TO_END[k])
                   for k, v in h.end_to_end(records).items()}
    if args.spans:
        h.tracer.dump(args.spans)
    kinds = sorted({r["kind"] for r in records})
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "calibration_sec": {"start": cal_start, "end": cal_end},
        "passes": h.passes, "loop_s": h.loop_s,
        "loop_cpu_steal_frac": h.steal_frac,
        "failed_frac": {"value": failed / max(1, len(records)),
                        "failed": failed, "attempted": len(records)},
        "failed_kinds": sorted(bad),
        "setup": {"samples": h.setup_samples, "prepare_s": h.prepare_s},
        "phases_s": phases,
        "p50_by_kind": {k: statistics.median(
            r["lat"] for r in records if r["kind"] == k) for k in kinds},
    }
    if not args.trace:
        detail["tail"] = h.tail
    print(json.dumps({"detail": detail}), flush=True)
    return {"correct": failed == 0, "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs and exactly one pass")
    ap.add_argument("--spans", help="write the span tree here (JSON lines)")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a checkout of the project, missing {missing}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its root (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    parent = os.path.join(REPO, ".perfbench_run")
    root = os.path.join(parent, f"{os.getpid()}")
    for d in ("cwd", "tmp", "local", "artifacts"):
        os.makedirs(os.path.join(root, d))
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "TMPDIR": os.path.join(root, "tmp"),
        "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(root, "artifacts"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    import tempfile
    tempfile.tempdir = None
    sys.path[:0] = [REPO, HERE]
    os.chdir(os.path.join(root, "cwd"))
    try:
        result = run(args, root)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        t0 = time.perf_counter()
        _stop_spark()
        print(f"perfbench: stopped in {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        os.chdir(REPO)
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
