"""The repository benchmark: seeded workloads against ``ocr_spark``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pages_small --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

All load comes from this process through one SparkSession at
``local[<cores>]``, as a closed loop: one job at a time, the next starting
when the previous one has finished. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics (Spark event log, timed
calls into each module, ``local[1]`` scaling in a second process). Every
metric is printed as ``name value unit``; the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-run"

END_TO_END = {
    "docs_per_s": "1/s",
    "cpu_ms_per_doc": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.build_s": "s",
    "html_blocks.parse_us_per_doc": "us",
    "html_blocks.blocks_per_doc": "count",
    "html_blocks.links_per_doc": "count",
    "html_blocks.bytes_per_doc": "bytes",
    "extract.parse_pages_s": "s",
    "extract.boundary_s": "s",
    "extract.label_blocks_s": "s",
    "extract.assemble_s": "s",
    "warc.read_s": "s",
    "warc.archive_bytes": "bytes",
    "runner.stage_s": "s",
    "runner.parse_write_s": "s",
    "runner.readback_s": "s",
    "runner.lineage_s": "s",
    "runner.manifest_s": "s",
    "runner.other_s": "s",
    "runner.bytes_written": "bytes",
    "runner.files_written": "count",
    "runner.write_amp": "ratio",
    "minhash.signatures_s": "s",
    "minhash.band_keys_s": "s",
    "graph.cc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "py.boot_s": "s",
    "py.init_s": "s",
    "py.run_s": "s",
    "py.bytes_to": "bytes",
    "py.bytes_from": "bytes",
    "spark.persisted_rdds_delta": "count",
    "spark.scaling_1_to_n": "ratio",
    "trace.wall_s": "s",
    "trace.docs_per_s": "1/s",
    "trace.untraced_docs_per_s": "1/s",
    "trace.overhead": "ratio",
}

# layer times whose share of the traced run's wall time is reported
_SHARE_OF_WALL = (
    "extract.parse_pages_s", "extract.label_blocks_s", "extract.assemble_s",
    "warc.read_s", "runner.stage_s", "runner.parse_write_s",
    "runner.readback_s", "runner.lineage_s", "runner.manifest_s",
    "runner.other_s", "minhash.signatures_s", "minhash.band_keys_s",
    "graph.cc_s", "spark.executor_run_s", "py.run_s",
)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   help="pages_small, pages_long, warc_runner, dedup_cc or all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure for this long (at least one run)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--master", default=None,
                   help="Spark master (default local[<cores>])")
    p.add_argument("--inputs", default=None, help=argparse.SUPPRESS)
    return p.parse_args(argv)


class Bench:
    """One benchmark process: its directories, session and workloads."""

    def __init__(self, args: argparse.Namespace, work: pathlib.Path) -> None:
        from perfbench.procstat import ProcTree
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.inputs = pathlib.Path(args.inputs) if args.inputs else work / "inputs"
        self.local_dir = work / "spark-local"
        self.eventlog = self.local_dir / "eventlog"
        for d in (self.inputs, self.local_dir, work / "tmp"):
            d.mkdir(parents=True, exist_ok=True)
        self.cores = _cores()
        self.master = args.master or f"local[{self.cores}]"
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        unknown = [n for n in names if n not in WORKLOADS]
        if unknown:
            raise SystemExit(f"unknown workload {unknown[0]!r}")
        self.classes = [WORKLOADS[n] for n in names]
        self.tree = ProcTree()
        self.spark = None

    def start(self, traced: bool) -> float:
        from ocr_spark.session import build_session

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": str(self.local_dir),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
                # the whole heap is committed and touched at start, so the
                # JVM's share of peak_rss_mb does not depend on when G1
                # happens to grow the heap during a run
                " -Xms2g -XX:+AlwaysPreTouch",
        }
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog.as_uri(),
                "spark.eventLog.compress": "false",
            })
            self.eventlog.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = build_session(self.master, app_name="perfbench", extra_conf=conf)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def measure(self, wl, seconds: float, tag: str | None = None) -> dict:
        """Closed loop of ``wl.run`` for ``seconds`` (at least once). With
        ``tag``, the jobs of each run (not of its check) carry the tag as
        the event log's phase property."""
        from perfbench.eventlog import PHASE_KEY
        from perfbench.procstat import PeakRss, steal_jiffies

        walls, cpus, attempted, failed, check_s = [], [], 0, 0, 0.0
        steal0 = steal_jiffies()
        t_end = time.perf_counter() + seconds
        with PeakRss(self.tree) as rss:
            while True:
                c0 = self.tree.cpu_s()
                self.spark.sparkContext.setLocalProperty(PHASE_KEY, tag)
                t0 = time.perf_counter()
                try:
                    out = wl.run()
                except Exception:
                    traceback.print_exc()
                    out = None
                walls.append(time.perf_counter() - t0)
                self.spark.sparkContext.setLocalProperty(PHASE_KEY, None)
                cpus.append(self.tree.cpu_s() - c0)
                attempted += wl.n
                t0 = time.perf_counter()
                failed += wl.n if out is None else self._check(wl, out)
                check_s += time.perf_counter() - t0
                if time.perf_counter() >= t_end:
                    break
        return {
            "runs": len(walls),
            "walls": walls,
            "docs_per_s": wl.n / statistics.median(walls),
            "cpu_ms_per_doc": statistics.median(cpus) / wl.n * 1e3,
            "peak_rss_mb": rss.peak / 2**20,
            "steal_jiffies": steal_jiffies() - steal0,
            "check_s": check_s,
            "attempted": attempted,
            "failed": failed,
        }

    @staticmethod
    def _check(wl, out) -> int:
        try:
            return wl.check(out)
        except Exception:
            traceback.print_exc()
            return wl.n

    def workloads(self):
        return [cls(self.spark, self.inputs, self.work, self.args.seed, self.cores)
                for cls in self.classes]

    def warm(self, wl) -> int:
        """Untimed runs that start the Python workers and warm the JIT; the
        first also records the output checksum later runs must reproduce."""
        failed = 0
        for i in range(wl.warm_runs):
            try:
                out = wl.run()
            except Exception:
                traceback.print_exc()
                failed += wl.n
                continue
            if i == 0:
                wl.reference()
            failed += self._check(wl, out)
        return failed


def _report(name: str, metrics: dict, units: dict) -> None:
    for k, v in metrics.items():
        print(f"{name:12s} {k:32s} {v:.6g} {units[k]}")


def run_untraced(bench: Bench, seconds: float) -> dict:
    build_s = bench.start(traced=False)
    results = {}
    for wl in bench.workloads():
        t0 = time.perf_counter()
        wl.prepare()
        t1 = time.perf_counter()
        warm_failed = bench.warm(wl)
        t2 = time.perf_counter()
        m = bench.measure(wl, seconds)
        m["failed"] += warm_failed
        m["attempted"] += wl.warm_runs * wl.n
        m["setup_s"] = build_s + t2 - t0
        results[wl.name] = m
        print(f"{wl.name:12s} setup: session={build_s:.3f}s inputs={t1 - t0:.3f}s"
              f" warm-up={t2 - t1:.3f}s")
        print(f"{wl.name:12s} runs={m['runs']} walls={[round(w, 3) for w in m['walls']]}"
              f" check_s={m['check_s']:.3f} steal_jiffies={m['steal_jiffies']}"
              f" failed_frac={m['failed'] / m['attempted']:.6g}")
        _report(wl.name, {k: m[k] for k in END_TO_END}, END_TO_END)
    bench.stop()
    return {
        name: ({k: m[k] for k in END_TO_END}, m["attempted"], m["failed"])
        for name, m in results.items()
    }


def _child(bench: Bench, workload: str, master: str) -> float:
    """docs_per_s of an untraced run in a second process on the same inputs."""
    cmd = [
        sys.executable, str(pathlib.Path(__file__).resolve()),
        "--workload", workload, "--seed", str(bench.args.seed),
        "--seconds", str(bench.args.seconds / 4), "--trace", "0",
        "--master", master, "--inputs", str(bench.inputs),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=170, check=True)
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"{workload} at {master}: outputs wrong")
    return res["metrics"]["docs_per_s"]["value"]


def run_traced(bench: Bench) -> dict:
    """A session with the event log on, run like an untraced one (set-up,
    warm-up, then a closed loop for a quarter of ``--seconds``) with its
    jobs tagged, then per-layer probes. After
    the session stops: the event-log fold, an untraced run in a second
    process for the tracing overhead and, for pages_small, a ``local[1]``
    run for scaling. Layer numbers are per run: event-log sums are divided
    by the number of tagged runs."""
    from perfbench.eventlog import fold

    build_s = bench.start(traced=True)
    results = {}
    for wl in bench.workloads():
        wl.prepare()
        failed = bench.warm(wl)
        before = bench.persisted()
        t = bench.measure(wl, bench.args.seconds / 4, tag=wl.name)
        m = dict.fromkeys(PER_LAYER, 0)
        m["spark.persisted_rdds_delta"] = bench.persisted() - before
        m.update(wl.layers({"wall_s": t["walls"][-1]}))
        m["session.build_s"] = build_s
        m["trace.wall_s"] = statistics.median(t["walls"])
        m["trace.docs_per_s"] = t["docs_per_s"]
        results[wl.name] = [m, t["runs"], t["attempted"] + wl.warm_runs * wl.n,
                            t["failed"] + failed]
    bench.stop()
    for name, (m, runs, _, _) in results.items():
        for k, v in fold(bench.eventlog, name).items():
            m[k] = v if k == "spark.task_skew" else v / runs
        m["trace.untraced_docs_per_s"] = _child(bench, name, bench.master)
        m["trace.overhead"] = 1 - m["trace.docs_per_s"] / m["trace.untraced_docs_per_s"]
    if "pages_small" in results and bench.cores > 1:
        m = results["pages_small"][0]
        one = _child(bench, "pages_small", "local[1]")
        m["spark.scaling_1_to_n"] = m["trace.untraced_docs_per_s"] / (bench.cores * one)
    for name, (m, runs, _, _) in results.items():
        _report(name, m, PER_LAYER)
        # runner phases are shares of the runner's own run, the rest of
        # the workload's median run
        runner_wall = sum(m[k] for k in PER_LAYER if k.startswith("runner.") and k.endswith("_s"))
        shares = {
            k: round(m[k] / (runner_wall if k.startswith(("runner.", "warc.")) else m["trace.wall_s"]), 4)
            for k in _SHARE_OF_WALL if m[k]
        }
        print(f"{name:12s} traced_runs={runs} share_of_wall {json.dumps(shares)}")
    return {name: (m, a, f) for name, (m, _, a, f) in results.items()}


def _shutdown_jvm(tree) -> None:
    """Stop the py4j JVM and wait for it and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = tree.pids()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _result(results: dict, units: dict) -> dict:
    """The final JSON line; with several workloads metric names are
    prefixed with the workload name."""
    prefix = len(results) > 1
    metrics, attempted, failed = {}, 0, 0
    for name, (m, a, f) in results.items():
        attempted += a
        failed += f
        for k, unit in units.items():
            metrics[f"{name}.{k}" if prefix else k] = {"value": m[k], "unit": unit}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import ocr_spark  # noqa: F401  -- fail fast outside a full checkout

    for stale in WORK.glob("*"):  # left behind by runs that were killed
        if not pathlib.Path(f"/proc/{stale.name}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = WORK / str(os.getpid())
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    bench = Bench(args, work)
    try:
        if args.trace:
            result = _result(run_traced(bench), PER_LAYER)
        else:
            result = _result(run_untraced(bench, args.seconds), END_TO_END)
    finally:
        bench.stop()
        _shutdown_jvm(bench.tree)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
