"""Repository benchmark: one workload, one seed, one line of JSON.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 20 --trace 0

Runs the workload in this driver process on ``local[N]`` (N = at most
4 of the CPUs this process may use; the process, its JVM and its
Python workers are pinned to those N CPUs), with a 2g driver. It sets
the session up several times, runs the first (cold) job, then runs
steady-state rounds as a closed loop with one client for ``--seconds``,
checking every result. The last line of stdout is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of the traced rounds,
which interleave with untraced ones so the tracing overhead shows. A
readable report goes to stderr; spans go to ``.perfbench/traces``.
Inputs, work files and traces stay under the checkout's
``.perfbench`` directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.trace import NULL, Tracer, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, JobResult  # noqa: E402

MAX_CORES = 4
DRIVER_MEM = "2g"
SETUPS = 5
MIN_ROUNDS = 3  # per kind of round: untraced, and in a traced run also traced

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "items_per_s": "items/s",
    "peak_rss_mb": "MB",
}


def pin_cpus() -> list[int]:
    """Pin this process (and so the JVM and Python workers it starts)
    to the first MAX_CORES CPUs it may use."""
    cpus = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    os.sched_setaffinity(0, cpus)
    return cpus


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def start_session(cores: int, work: str):
    from gdal_spark.session import get_spark

    return get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark"),
            # a fixed, pre-touched heap: peak RSS then moves with what
            # lives outside it (off-heap buffers, Python workers), not
            # with how far the collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """One benchmark run: set-up, cold job, steady rounds."""

    def __init__(self, workload, cores: int, work: str, trace: bool) -> None:
        self.wl = workload
        self.cores = cores
        self.work = work
        self.trace = trace
        self.tracer = Tracer() if trace else NULL
        self.spark = None
        self.stats = None
        self.jobs: list[JobResult] = []
        self.layer_rows: list[tuple[str, dict]] = []
        self.n = 0
        self.last_out = None

    def setup(self) -> tuple[list[float], list[float]]:
        """Session start + input open, SETUPS times; the last session
        stays up. Returns (setup seconds, session-start seconds)."""
        setups, starts = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("get_spark", "session"):
                self.spark = start_session(self.cores, self.work)
            starts.append(time.perf_counter() - t0)
            self.wl.open(self.spark, self.tracer)
            setups.append(time.perf_counter() - t0)
        if self.trace:
            from perfbench.sparkstats import SparkStats

            self.stats = SparkStats(self.spark)
        return setups, starts

    def job(self, kind: str, traced: bool) -> JobResult:
        self.n += 1
        group = f"perfbench-{self.n}"
        self.spark.sparkContext.setJobGroup(group, f"{self.wl.name} {kind}")
        out_dir = os.path.join(self.work, f"out-{self.n}")
        tr = self.tracer if traced else NULL
        if traced:
            tr.trace_id = group
        start = time.time()
        try:
            with tr.span(f"job {kind}", "perfbench"):
                res = self.wl.job(self.spark, kind, out_dir, tr)
        except Exception:
            traceback.print_exc()
            res = JobResult(kind, 0, False, time.time() - start)
        self.jobs.append(res)
        if traced and res.ok:
            self._record(group, kind, start, res, out_dir)
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out_dir
        return res

    def _record(self, group, kind, start, res, out_dir) -> None:
        rec = self.stats.group(group, res.plans)
        mine = [s for s in self.tracer.spans if s.trace_id == group]
        for st in rec.stages:
            if st.status != "COMPLETE" or st.submit is None:
                continue
            holders = [s for s in mine if s.start <= st.submit <= s.end]
            parent = max(holders, key=lambda s: s.start) if holders else None
            self.tracer.add(f"stage {st.stage_id}", "spark", st.submit,
                            st.complete,
                            parent.span_id if parent else None,
                            tasks=st.num_tasks, stage_name=st.name)
        m = layers.job_metrics(rec, kind, start, start + res.wall,
                               self.cores, out_dir,
                               res.hits)
        if kind == "pip":
            m["cover.plan_s"] = sum(
                s.end - s.start for s in mine if s.name == "spatial_join")
        self.layer_rows.append((kind, m))

    def rounds(self, seconds: float) -> list[tuple[float, int, bool]]:
        """Closed-loop rounds for ``seconds`` (at least MIN_ROUNDS).
        A traced run orders rounds untraced, traced, traced, untraced,
        ... so drift over the run cancels in the overhead. Returns
        (round wall seconds, items, traced) per fully correct round."""
        out = []
        deadline = time.perf_counter() + seconds
        i = 0
        min_rounds = MIN_ROUNDS * (2 if self.trace else 1)
        while i < min_rounds or time.perf_counter() < deadline:
            traced = self.trace and i % 4 in (1, 2)
            res = [self.job(k, traced) for k in self.wl.round_kinds]
            if all(r.ok for r in res):
                out.append((sum(r.wall for r in res),
                            sum(r.items for r in res), traced))
            i += 1
        return out


def layer_metrics(runner: Runner, starts, fixture_s, kernels) -> dict:
    sums: dict[str, list[float]] = {}
    for _, m in runner.layer_rows:
        for k, v in m.items():
            sums.setdefault(k, []).append(float(v))
    out = {k: statistics.fmean(v) for k, v in sums.items()}
    out.update(kernels)
    out["session.start_s"] = statistics.median(starts)
    out["testdata.fixture_s"] = fixture_s
    return {k: {"value": float(out.get(k, 0.0)), "unit": u}
            for k, u in layers.METRICS.items()}


def report(wl, cores, cpus, phases, setups, cold, rounds, metrics, jobs,
           trace_info) -> None:
    def p(line: str) -> None:
        print(f"# {line}", file=sys.stderr)

    p(f"perfbench {wl.name}: local[{cores}] pinned to CPUs {cpus}, driver "
      f"{DRIVER_MEM}, closed loop, 1 client; {phases}")
    p(f"  setup_s samples {[round(s, 3) for s in setups]}")
    p(f"  cold_job_s {cold.wall:.3f}")
    walls = sorted(r[0] for r in rounds if not r[2])
    if walls:
        p(f"  round_s p50 {statistics.median(walls):.3f} over {len(walls)} "
          f"rounds: {[round(w, 3) for w in walls]}")
        p(f"  {wl.unit}_per_s = items_per_s ({rounds[0][1]} {wl.unit} "
          f"per round)")
    by_kind: dict[str, list[float]] = {}
    for j in jobs[1:]:
        by_kind.setdefault(j.kind, []).append(j.wall)
    for kind, w in by_kind.items():
        p(f"  job_s[{kind}] p50 {statistics.median(w):.3f} n={len(w)}")
    failed = sum(not j.ok for j in jobs)
    p(f"  error_rate {failed / len(jobs):.4f} ({failed} of {len(jobs)} jobs "
      f"failed or wrong)")
    for k, v in metrics.items():
        p(f"  {k} = {v['value']:.6g} {v['unit']}")
    for line in trace_info or []:
        p(f"  {line}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    cpus = pin_cpus()
    cores = len(cpus)
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload]()
    fx = wl.prepare(ROOT, args.seed, cores)
    t_prepared = time.perf_counter()
    sampler = RssSampler()
    sampler.start()
    runner = Runner(wl, cores, work, bool(args.trace))
    try:
        setups, starts = runner.setup()
        cold = runner.job(wl.round_kinds[0], traced=False)
        rounds = runner.rounds(args.seconds)
        kernels = {}
        trace_info = None
        if args.trace:
            runner.tracer.trace_id = "kernels"
            kernels = wl.kernels(runner.tracer, runner.last_out)
            trace_info = trace_summary(runner, wl, args.seed, rounds)
    finally:
        if runner.spark is not None:
            runner.spark.stop()
        stop_jvm()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    phases = (f"prepare {t_prepared - t_start:.1f} s, run "
              f"{time.perf_counter() - t_prepared:.1f} s")
    # a round that failed its check has no throughput; with none left
    # the run reports 0 next to its failures
    rates = [items / wall for wall, items, traced in rounds if not traced]
    if args.trace:
        metrics = layer_metrics(runner, starts, fx["build_s"], kernels)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_job_s": cold.wall,
            "items_per_s": statistics.median(rates) if rates else 0.0,
            "peak_rss_mb": sampler.peak / float(1 << 20),
        }
        metrics = {k: {"value": float(metrics[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    jobs = runner.jobs
    failed = sum(not j.ok for j in jobs)
    report(wl, cores, cpus, phases, setups, cold, rounds, metrics, jobs,
           trace_info)
    print(json.dumps({"correct": failed == 0, "attempted": len(jobs),
                      "failed": failed, "metrics": metrics}))
    return 0


def trace_summary(runner: Runner, wl, seed: int, rounds) -> list[str]:
    plain = [r[0] for r in rounds if not r[2]]
    traced = [r[0] for r in rounds if r[2]]
    lines = []
    if plain and traced:
        a, b = statistics.median(traced), statistics.median(plain)
        lines.append(f"tracing overhead: traced round p50 {a:.3f} s - "
                     f"untraced {b:.3f} s = {a - b:+.3f} s")
    lines.append("self time by layer (s per traced job; kernel calls apart):")
    n_jobs = max(len(runner.layer_rows), 1)
    jobs = [s for s in runner.tracer.spans
            if s.trace_id.startswith("perfbench-")]
    for layer, s in sorted(self_times(jobs).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<14} {s / n_jobs:9.3f}")
    for s in runner.tracer.spans:
        if s.trace_id == "kernels":
            lines.append(f"kernel {s.layer}.{s.name}: {s.end - s.start:.3f} s")
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{wl.name}-seed{seed}.json")
    runner.tracer.dump(path)
    lines.append(f"spans: {path}")
    return lines


if __name__ == "__main__":
    sys.exit(main())
