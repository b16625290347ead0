"""The repo benchmark: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. The run makes its inputs
from ``--seed`` under ``.perfbench_work/`` (git-ignored), sets up a Spark
session sized to the machine (``local[N]``, one CPU fewer than it has, at
most 4), measures whole passes of operations for at least ``--seconds``
seconds, checks every output outside the timed window, and prints the full
record (every metric with its unit) followed by one JSON line with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. It
exits 1 when an output check fails and 2 when the engine cannot be
imported. Workloads and metrics are described in README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median
MAX_CPUS = 4


def _cpus() -> int:
    """Task slots: one CPU fewer than the machine has, at most MAX_CPUS. The
    spare CPU runs the JVM's compiler and collector threads and the Python
    driver, which would otherwise take turns with the tasks."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n - 1, MAX_CPUS))


def _driver_mem_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: the inputs are a few MB,
    and a larger heap only lets the JVM's resident size wander further."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return int(min(2 << 30, total // 4) >> 20)


def configure(work: str) -> dict:
    """Environment for the engine, its JVM and its Python workers. Must run
    before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus, mem = _cpus(), _driver_mem_mb()
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # workers import the engine from the checkout wherever the
        # benchmark is launched from
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # The heap is committed and touched at its full size when the JVM
        # starts, so its resident size does not depend on when the garbage
        # collector chose to grow the heap. -XX:-UsePerfData keeps the JVMs
        # (the launcher's too) from writing their counters under /tmp.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join((
            "--conf", "spark.driver.extraJavaOptions="
            f"'-Djava.io.tmpdir={tmp} -Xms{mem}m -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData'",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        )),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    return {"cpus": cpus, "driver_mem_mb": mem}


def _descendants() -> list[int]:
    """Process ids of every descendant of this process: the JVM that
    pyspark launches and the Python workers it forks."""
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
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_peak_mb() -> float:
    """Sum of peak resident size (VmHWM) over this process and all its
    descendants."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def stop_engine(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, and wait until every process the run
    started has ended (killing what is left after ``timeout_s``)."""
    from pyspark import SparkContext

    pids = _descendants()
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # noqa: BLE001 - the JVM is stopped below either way
            print(f"perfbench: session stop failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            break
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 5
        time.sleep(0.1)
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.wait()


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _git_commit() -> str:
    """HEAD of the checkout, or "unknown" when the checkout is not itself a
    git repository (git must not report a repository above it)."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, env=env,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_digest(package: str) -> str:
    """SHA-256 over the engine's Python sources, which names the code
    measured where no git commit is available."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, package)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


class Bench:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = None

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def set_up(get_session) -> tuple[object, list[float], list[float]]:
    """SETUPS set-ups: start a session (the first also launches the JVM)
    and load the query registry. Each later set-up stops the previous
    session first. Returns the session, the set-up times and the
    session-start part of each."""
    from synth_timeseries_data_spark.queries import all_queries

    spark, totals, starts = None, [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench")
        starts.append(time.perf_counter() - t0)
        all_queries()
        totals.append(time.perf_counter() - t0)
    return spark, totals, starts


def measure(b: Bench, wl, spark, jobs) -> dict:
    """Closed loop, one client: whole passes of operations until the window
    has run for ``b.seconds``."""
    lat, labels, results, per_op_jobs = [], [], [], []
    t_start = time.perf_counter()
    deadline = t_start + b.seconds
    i = 0
    while time.perf_counter() < deadline or i % wl.pass_len:
        group = f"perfbench-op-{i}"
        if b.tracer is not None:
            b.tracer.op = i
        t0 = time.perf_counter()
        try:
            with b.span("op"), (jobs.group(group) if jobs else contextlib.nullcontext()):
                results.append(wl.run_op(spark, i))
        except Exception as e:  # noqa: BLE001
            wl.errors[i] = f"{type(e).__name__}: {str(e)[:300]}"
        lat.append(time.perf_counter() - t0)
        labels.append(wl.label(i))
        if jobs:
            per_op_jobs.append(jobs.totals(group))
        i += 1
    if b.tracer is not None:
        b.tracer.op = None
    window = time.perf_counter() - t_start
    return {
        "lat": lat, "labels": labels, "window_s": window, "jobs": per_op_jobs,
        "units": sum(r.units for r in results),
        "in_bytes": sum(r.in_bytes for r in results),
        "out_bytes": sum(r.out_bytes for r in results),
        "files": sum(r.files for r in results),
    }


def layer_metrics(b: Bench, wl, spark, m: dict, setup_starts: list[float]) -> dict:
    """Per-layer metrics of the traced window, per operation unless named
    otherwise. ``<layer>_s`` is self time: span duration minus the time its
    child spans cover."""
    from stats import median, self_time_by_name, self_times

    tr = b.tracer
    n_ops = len(m["lat"])
    n = max(1, n_ops)
    spans = list(tr.spans)
    own = self_times(spans)
    selfs = self_time_by_name(spans)
    batch_s = sum(s.end - s.start for s in spans
                  if s.name == "sinks.write_curated_corpus_incremental")
    c, sec = tr.counts, tr.seconds

    # latency of each operation minus the self times of the layer spans in it
    gaps = []
    for op in range(n_ops):
        inside = tr.op_spans(op)
        if any(s.name == "op" for s in inside):
            gaps.append(m["lat"][op] - sum(own[s.sid] for s in inside if s.name != "op"))

    calls = c["materialize.materialized.calls"] + c["materialize.persisted.calls"]
    builds = c["materialize.materialized.builds"] + c["materialize.persisted.builds"]
    jobs = lambda k: sum(j[k] for j in m["jobs"]) / n  # noqa: E731
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update({
        "session.get_session_s": median(setup_starts),
        "session.tune_for_input.calls": c["session.tune_for_input.calls"] / n,
        "session.tune_for_input.conf_writes": c["session.tune_for_input.conf_writes"] / n,
        "sources.load.calls": c["sources.load.calls"] / n,
        "sources.load.misses": c["sources.load.misses"] / n,
        "sources.load_s": selfs.get("sources.load", 0.0) / n,
        "sources.table_rows.calls": c["sources.table_rows.calls"] / n,
        "sources.table_rows_s": selfs.get("sources.table_rows", 0.0) / n,
        "queries.build_s": selfs.get("queries.build", 0.0) / n,
        "queries.exec_s": selfs.get("queries.exec", 0.0) / n,
        "queries.spark_jobs": jobs("jobs"),
        "queries.spark_stages": jobs("stages"),
        "queries.spark_tasks": jobs("tasks"),
        "queries.failed_tasks": jobs("failed_tasks"),
        "materialize.materialized.calls": c["materialize.materialized.calls"] / n,
        "materialize.materialized.builds": c["materialize.materialized.builds"] / n,
        "materialize.materialized.build_s": sec["materialize.materialized.build_s"] / n,
        "materialize.persisted.calls": c["materialize.persisted.calls"] / n,
        "materialize.persisted.builds": c["materialize.persisted.builds"] / n,
        "materialize.hit_ratio": (calls - builds) / calls if calls else 0.0,
        "generation.sweep.calls": c["generation.sweep.calls"] / n,
        "generation.sweep_s": selfs.get("generation.sweep", 0.0) / n,
        "benchmark.score_generated.calls": c["benchmark.score_generated.calls"] / n,
        "benchmark.score_generated_s": selfs.get("benchmark.score_generated", 0.0) / n,
        "sinks.batch_s": batch_s / n,
        "sinks.publish_version_s": selfs.get("sinks.publish_version", 0.0) / n,
        "sinks.bytes_written": m["out_bytes"] / n,
        "sinks.files_written": m["files"] / n,
        "neardup_index.minhash_delta_pairs_s":
            selfs.get("neardup_index.minhash_delta_pairs", 0.0) / n,
        "trace.lat_p50_s": median(m["lat"]),
        "trace.unattributed_s": median(gaps),
    })
    out.update(wl.layer_metrics(spark, spans, n_ops))
    return out


def trace_overhead(b: Bench, wl, spark, jobs, install) -> dict:
    """Traced minus untraced time of the workload's repeatable operation:
    ``wl.overhead_pairs`` pairs, removing the wrappers for the untraced side
    of each pair and installing them again."""
    from stats import median

    traced, untraced = [], []
    for k in range(wl.overhead_pairs):
        t0 = time.perf_counter()
        with b.span("op"), jobs.group(f"perfbench-overhead-{k}"):
            wl.repeat_op(spark)
        traced.append(time.perf_counter() - t0)
        jobs.totals(f"perfbench-overhead-{k}")
        b.wrappers.uninstall()
        tracer, b.tracer = b.tracer, None
        t0 = time.perf_counter()
        wl.repeat_op(spark)
        untraced.append(time.perf_counter() - t0)
        b.tracer = tracer
        b.wrappers = install(tracer)
    d = median(traced) - median(untraced)
    return {"trace.overhead_s": d, "trace.overhead_frac": d / median(untraced)}


# Unit of every per-layer metric (the ``--trace 1`` record), in order.
LAYER_UNITS = {
    "session.get_session_s": "s",
    "session.tune_for_input.calls": "count",
    "session.tune_for_input.conf_writes": "count",
    "sources.load.calls": "count",
    "sources.load.misses": "count",
    "sources.load_s": "s",
    "sources.table_rows.calls": "count",
    "sources.table_rows_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.spark_jobs": "count",
    "queries.spark_stages": "count",
    "queries.spark_tasks": "count",
    "queries.failed_tasks": "count",
    "materialize.materialized.calls": "count",
    "materialize.materialized.builds": "count",
    "materialize.materialized.build_s": "s",
    "materialize.persisted.calls": "count",
    "materialize.persisted.builds": "count",
    "materialize.hit_ratio": "ratio",
    "generation.kernel_s_per_mcell": "s/Mcell",
    "generation.sweep.calls": "count",
    "generation.sweep_s": "s",
    "benchmark.score_generated.calls": "count",
    "benchmark.score_generated_s": "s",
    "sinks.batch_s": "s",
    "sinks.publish_version_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "neardup_index.minhash_delta_pairs_s": "s",
    "docs_per_s": "docs/s",
    "write_amp": "ratio",
    "failed_frac": "ratio",
    "trace.lat_p50_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work")
    sizing = configure(work)
    try:
        import pyspark
        from synth_timeseries_data_spark.session import get_session
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    import stats
    from tracing import JobCounter, Tracer, install_layer_wrappers
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    b = Bench(args, work)
    wl = WORKLOADS[args.workload](b)
    t_prepare = time.perf_counter()
    wl.prepare()
    phases = {"prepare_s": time.perf_counter() - t_prepare}

    # a terminated run still stops the JVM and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark, setups, starts = set_up(get_session)
        t0 = time.perf_counter()
        wl.reference(spark)
        phases["reference_s"] = time.perf_counter() - t0
        jobs = None
        if b.trace:
            b.tracer = Tracer()
            b.wrappers = install_layer_wrappers(b.tracer)
            jobs = JobCounter(spark.sparkContext)
        m = measure(b, wl, spark, jobs)
        rss = _rss_peak_mb()
        layers = None
        if b.trace:
            layers = layer_metrics(b, wl, spark, m, starts)
            layers.update(trace_overhead(b, wl, spark, jobs, install_layer_wrappers))
            b.wrappers.uninstall()
        t_check = time.perf_counter()
        wl.check(spark, len(m["lat"]))
        phases["check_s"] = time.perf_counter() - t_check
    finally:
        stop_engine(spark)

    n_ops, window = len(m["lat"]), m["window_s"]
    rates = {
        "docs_per_s": m["units"] / window if wl.unit == "docs" else 0.0,
        "write_amp": stats.write_amp(m["out_bytes"], m["in_bytes"]),
    }

    failed = len(wl.errors)
    tail = stats.tail(m["lat"])
    e2e = {
        "setup_s": (stats.median(setups), "s"),
        "lat_p50_s": (stats.median(m["lat"]), "s"),
        "lat_tail_s": (tail["value"], "s"),
        "ops_per_s": (n_ops / window, "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "failed_frac": (stats.failed_frac(n_ops, failed), "ratio"),
        **{k: (v, LAYER_UNITS[k]) for k, v in rates.items()},
    }
    record = {
        "workload": wl.name, "seed": b.seed, "seconds": b.seconds,
        "trace": int(b.trace), "operations": n_ops, "failed": failed,
        "errors": {str(k): v for k, v in sorted(wl.errors.items())},
        "lat_tail": tail,
        "ops": [[lab, t] for lab, t in zip(m["labels"], m["lat"])],
        "setup_runs_s": setups, "window_s": window, "phases": phases,
        "input_rows": wl.input_rows, "input_bytes": wl.input_bytes,
        "cpus": sizing["cpus"], "spark_master": f"local[{sizing['cpus']}]",
        "driver_mem_mb": sizing["driver_mem_mb"],
        "git_commit": _git_commit(),
        "source_sha256": _source_digest("synth_timeseries_data_spark"),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if layers is not None:
        layers["failed_frac"] = e2e["failed_frac"][0]
        layers.update(rates)
        record["layers"] = layers
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{wl.name}-seed{b.seed}-trace{int(b.trace)}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if b.trace:
        b.tracer.dump(stem + ".spans.jsonl")

    print(json.dumps(record))
    if layers is not None:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": n_ops,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


# The end-to-end metrics of the ``--trace 0`` record. failed_frac, docs_per_s
# and write_amp are in the full record and the traced record: they read 0
# where they do not apply, and a reported metric may never read 0.
E2E = ("setup_s", "lat_p50_s", "lat_tail_s", "ops_per_s", "peak_rss_mb")


if __name__ == "__main__":
    sys.exit(main())
