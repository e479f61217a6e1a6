"""Layer benchmark of the landlensdb_spark engine.

    python3 perfbench/run.py --workload geotag_scan --seed 1 --seconds 12 --trace 0

Run from the repository root. It starts ``local[nproc]`` from this process,
sets up the workload (perfbench/workloads.json holds sizes and rationale),
runs one cold pass and then warm passes for ``--seconds``, checks every
pass's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run is traced
(job groups, event log, spans) and the metrics are the per-layer ones.
Inputs are generated before the Spark session starts, by a child process,
and cached under ``.perfbench/cache``; everything else a run writes goes to
``.perfbench/run-<pid>`` and is removed at exit. The runner adopts every
process it starts, the JVM's Python daemon and workers included, and waits
until all of them have ended before it prints its result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIG = os.path.join(ROOT, "perfbench", "workloads.json")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--generate", action="store_true", help="only write missing inputs")
    return p.parse_args(argv)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the parent of every orphaned descendant: the JVM's Python
    daemon and workers outlive the JVM by a moment, and a process pool's
    resource tracker outlives the pool's owner. reap_children waits for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(d))
            except OSError:
                continue
    return kids


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every child has ended; kill the ones left after ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for kid in children():
                print(f"perfbench: killing leftover process {kid}", file=sys.stderr)
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.02)


def prepare_env(run_dir: str, driver_memory: str) -> None:
    """Keep every file the JVM and its workers write inside ``run_dir``, and
    let Python workers import the package (see workloads.json known_defects)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files in run_dir,
    # no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def session_conf(run_dir: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


class Bench:
    """One run of one workload; see the module docstring for the protocol."""

    def __init__(self, args, cfg: dict, declared: dict, run_dir: str):
        from perfbench import inputs, workloads

        self.args = args
        self.cfg = cfg
        self.declared = declared
        self.run_dir = run_dir
        self.traced = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        cache = inputs.InputCache(os.path.join(ROOT, ".perfbench", "cache"))
        self.workload = workloads.WORKLOADS[args.workload](
            cfg["workloads"][args.workload], args.seed, cache, run_dir
        )
        # a traced run also runs, at probe size, each other workload that
        # has a layer this one lacks
        self.others = []
        covered = set(self.workload.layers)
        for name, cls in workloads.WORKLOADS.items():
            if self.traced and not set(cls.layers) <= covered:
                sizes = {**cfg["workloads"][name], **cfg["probe_sizes"][name]}
                self.others.append(cls(sizes, args.seed, cache, run_dir))
                covered |= set(cls.layers)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def generate(self) -> None:
        for wl in [self.workload, *self.others]:
            wl.generate()

    # -- session --------------------------------------------------------------
    def start_session(self):
        from landlensdb_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=max(2 * self.cpus, 16),
            extra_conf=session_conf(self.run_dir, self.traced),
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_jvm(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def setup(self) -> float:
        """The run's set-up: launch the JVM through get_spark, then prepare
        the inputs; returns its seconds."""
        t0 = time.perf_counter()
        self.start_session()
        self.session_start = time.perf_counter() - t0
        self.workload.prep(self.spark)
        return time.perf_counter() - t0

    # -- passes ---------------------------------------------------------------
    def one_pass(self, workload, tracer, pass_id) -> float:
        """Run and check one pass; returns its wall seconds (the check is
        not timed)."""
        tracer.begin_pass(pass_id)
        self.attempted += len(workload.queries)
        t0 = time.perf_counter()
        try:
            out = workload.run_pass(self.spark, tracer)
        except Exception as exc:  # a failed query counts, the run goes on
            self.failed += len(workload.queries)
            self.failures.append(f"{workload.name} pass {pass_id}: {exc!r}"[:500])
            out = None
        wall = time.perf_counter() - t0
        if out is None:
            return wall
        try:
            bad = workload.check(self.spark, out)
        except Exception as exc:
            bad = list(workload.queries)
            self.failures.append(f"{workload.name} check {pass_id}: {exc!r}"[:500])
        if bad:
            self.failed += len(bad)
            self.failures.append(f"{workload.name} pass {pass_id}: wrong {bad} {out}"[:500])
        return wall

    def run(self) -> dict:
        from perfbench.tracing import RssSampler, Tracer

        run_id = os.path.basename(self.run_dir)
        # missing inputs are written by a child process (and its pool) that
        # has ended before the JVM starts, so every run measures the same
        # set-up and passes
        t0 = time.perf_counter()
        a = self.args
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--generate"],
            check=True,
        )
        reap_children()
        print(f"perfbench inputs ready in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        with RssSampler() as rss:
            setup = self.setup()
            tracer = Tracer(self.spark, self.workload.name, run_id, self.traced)
            first = self.one_pass(self.workload, tracer, 0)
            # the passes right after the cold one still pay JIT compilation:
            # run and check them for warmup_seconds, time only the later ones
            tracer.enabled = False
            warmup_end = time.perf_counter() + self.cfg["warmup_seconds"]
            w = 0
            while w == 0 or time.perf_counter() < warmup_end:
                self.one_pass(self.workload, tracer, f"warmup{w}")
                w += 1
            # warm passes, keyed by whether the pass was traced
            warm: dict[bool, list[float]] = {True: [], False: []}
            deadline = time.perf_counter() + self.args.seconds
            min_passes = self.cfg["min_warm_passes"] + self.traced
            i = 1
            while time.perf_counter() < deadline or i <= min_passes:
                # a traced run interleaves untraced and traced warm passes as
                # U T T U U T T U ..., so a steady drift cancels in the overhead
                tracer.enabled = self.traced and i % 4 in (2, 3)
                warm[tracer.enabled].append(self.one_pass(self.workload, tracer, i))
                i += 1
            if self.traced:
                tracer.enabled = True
                traced_passes = [p for p in range(1, i) if p % 4 in (2, 3)]
                sources = self.trace_layers(tracer, traced_passes, run_id)
        peak_mb = rss.peak / (1024 * 1024)
        self.stop_jvm()
        if self.traced:
            metrics = self.fold(sources, warm)
        else:
            wall = statistics.median(warm[False])
            metrics = {
                "setup_s": setup,
                "first_pass_s": first,
                "wall_s": wall,
                "rows_per_s": self.workload.input_rows / wall,
                "peak_rss_mb": peak_mb,
            }
        declared = self.declared["per_layer" if self.traced else "end_to_end"]
        for line in self.failures:
            print(line, file=sys.stderr)
        print(
            f"perfbench {self.workload.name} seed={self.args.seed}: "
            f"setup {setup:.3f}, first pass {first:.3f}, "
            f"warm passes {[round(w, 3) for w in warm[False]]} "
            f"traced {[round(w, 3) for w in warm[True]]}",
            file=sys.stderr,
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
        }

    # -- traced run -------------------------------------------------------------
    def trace_layers(self, tracer, traced_passes, run_id) -> list:
        """Layer sources: the workload's own traced passes and its
        decomposition, then, for each other workload that runs a layer this
        one does not, a cold and a warm pass at probe size (the warm one is
        reported) and its decomposition."""
        from perfbench.tracing import Tracer

        tracer.begin_pass("decompose")
        self.workload.decompose(self.spark, tracer)
        sources = [(self.workload, tracer, traced_passes + ["decompose"])]
        for other in self.others:
            other.prep(self.spark)
            tr = Tracer(self.spark, other.name, run_id, True)
            self.one_pass(other, tr, 0)
            self.one_pass(other, tr, 1)
            tr.begin_pass("decompose")
            other.decompose(self.spark, tr)
            sources.append((other, tr, [1, "decompose"]))
        return sources

    def fold(self, sources, walls) -> dict:
        """Per-layer metrics, each layer from the first source that runs it:
        child-span times and counters are medians over that source's passes;
        the generic job/task metrics are medians over the passes in which
        the layer ran jobs."""
        from perfbench.tracing import GENERIC, fold_layers, jobs_within, read_event_log

        jobs, tasks = read_event_log(os.path.join(self.run_dir, "events"))
        metrics = {
            "session.start_s": self.session_start,
            "tracing.overhead_s": statistics.median(walls[True]) - statistics.median(walls[False]),
        }
        for wl, tr, passes in sources:
            for layer, per_pass in fold_layers(tr.spans, jobs, tasks, wl.name).items():
                if f"{layer}.jobs" in metrics:
                    continue
                busy = [v for p, v in per_pass.items() if p in passes and v["jobs"]]
                for g in GENERIC:
                    metrics[f"{layer}.{g}"] = statistics.median([v[g] for v in busy] or [0])
                rows: dict = {}
                for sp in tr.spans:
                    if sp.layer != layer or sp.pass_id not in passes:
                        continue
                    row = rows.setdefault(sp.pass_id, {})
                    if sp.name != layer:
                        key = f"{layer}.{sp.name}_s"
                        row[key] = row.get(key, 0.0) + sp.seconds
                        if layer == "knn" and sp.name == "construct":
                            row["knn.construct_jobs"] = jobs_within(
                                jobs, f"{wl.name}/knn", sp.start, sp.end
                            )
                    row.update({f"{layer}.{c}": v for c, v in sp.counters.items()})
                for k in {k for row in rows.values() for k in row}:
                    metrics[k] = statistics.median(r[k] for r in rows.values() if k in r)
        metrics["extract.kernel_s"] = metrics["extract.action_s"] - metrics["arrow_boundary.identity_s"]
        self.write_ledger(sources, metrics)
        return metrics

    def write_ledger(self, sources, metrics) -> None:
        """Spans and every folded metric (also the ones BENCHMARK.json leaves
        out, such as gc_s, spill_bytes and failed_tasks) as one JSON file."""
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        spans = [
            {
                "workload": wl.name,
                "name": sp.name,
                "layer": sp.layer,
                "parent": sp.parent.name if sp.parent else None,
                "pass": sp.pass_id,
                "run_id": sp.run_id,
                "start": sp.start,
                "end": sp.end,
                "counters": sp.counters,
            }
            for wl, tr, _ in sources
            for sp in tr.spans
        ]
        name = f"{self.workload.name}-seed{self.args.seed}-{os.path.basename(self.run_dir)}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump({"metrics": metrics, "spans": spans}, fh, indent=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(CONFIG) as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    if args.generate:  # child of a run, which has prepared the environment
        sys.path.insert(0, ROOT)
        Bench(args, cfg, declared, run_dir).generate()
        return 0
    prepare_env(run_dir, cfg["driver_memory"])
    try:
        import landlensdb_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        os.removedirs(os.path.join(run_dir, "tmp"))  # and .perfbench if empty
        return 2
    adopt_orphans()
    bench = Bench(args, cfg, declared, run_dir)
    try:
        result = bench.run()
    finally:
        try:
            bench.stop_jvm()
        finally:
            reap_children()
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
