"""Run one workload of the relationalize benchmark and print its metrics.

    python3 perfbench/run.py --workload jsonl_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. The run starts a Spark session on
``local[<cores>]`` several times (set-up), runs one cold operation, then
warm operations in a closed loop for ``--seconds``, then one read-back,
checking every operation's output outside the timed region.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the run record: run stamp, every
operation with its time or error, and check failures. A traced run also
writes its spans and per-layer metrics to
``.perfbench_work/spans/<workload>-<seed>-<run id>.jsonl``.

Exit codes: 0 when every operation ran and every check passed; 1 when an
operation failed or a check did not pass (the result line still prints);
2 when the library cannot be imported (nothing prints on stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUPS = 3
RSS_PERIOD_S = 0.2


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_benchmark() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


# -- resources ----------------------------------------------------------------


def _procs() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (parent pid, CPU ticks incl. reaped children, resident
    pages, command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, fields = f.read().rsplit(")", 1)
                fields = fields.split()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
            ticks = sum(int(x) for x in fields[11:15])
            out[int(d)] = (int(fields[1]), ticks, resident, head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _tree(root_pid: int, procs: dict) -> set[int]:
    tree, todo = {root_pid}, [root_pid]
    while todo:
        p = todo.pop()
        kids = [c for c, v in procs.items() if v[0] == p and c not in tree]
        tree.update(kids)
        todo.extend(kids)
    return tree & procs.keys()


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the driver (``root_pid``), its JVM and its Python
    workers.

    Other descendants are the JVM's short-lived helpers: it starts them
    with vfork, so until they exec they share, and report, the JVM's
    whole memory; counting them would count the JVM twice."""
    procs = _procs()

    def counted(p: int) -> bool:
        name, parent = procs[p][3], procs.get(procs[p][0], (0, 0, 0, ""))[3]
        return p == root_pid or name.startswith("python") or (
            name == "java" and parent != "java"
        )

    pages = sum(procs[p][2] for p in _tree(root_pid, procs) if counted(p))
    return pages * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid``, its live
    descendants and the children they have reaped."""
    procs = _procs()
    ticks = sum(procs[p][1] for p in _tree(root_pid, procs))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled on a thread."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def git_commit() -> str:
    """HEAD of the checkout's git directory, read from its files;
    ``unknown`` when the checkout is not a git repository."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def run_stamp(args: argparse.Namespace, run_id: str) -> dict:
    import pyspark

    return {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "cpu_steal_start_s": cpu_steal_s(),
        "pyspark": pyspark.__version__,
        "commit": git_commit(),
    }


# -- Spark session ------------------------------------------------------------


def configure_env(work: Path, cores: int) -> None:
    """Keep Spark's scratch files inside the run's work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(cores: int):
    """One set-up: a session plus a warm-up job. Returns (spark, epoch
    start, session-start seconds, set-up seconds)."""
    from relationalize_spark.plans import session

    epoch, t0 = time.time(), time.perf_counter()
    spark = session.get_spark(
        app="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(100_000).selectExpr("sum(id)").collect()
    return spark, epoch, t1 - t0, time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the run ------------------------------------------------------------------


def run(args: argparse.Namespace, bench: dict) -> tuple[dict, dict]:
    from . import workloads
    from .trace import Tracer, instrument

    run_id = uuid.uuid4().hex
    stamp = run_stamp(args, run_id)
    cores = stamp["nproc"]
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(work, cores)
    wl = workloads.make(args.workload, args.seed, str(work / "data"))
    wl.prepare()

    record: dict = {"stamp": stamp, "ops": [], "errors": [], "check_failures": []}
    spark = None
    with RssSampler() as rss:
        try:
            starts, setups, epochs = [], [], []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, epoch, start_s, setup_s = start_session(cores)
                epochs.append(epoch)
                starts.append(start_s)
                setups.append(setup_s)
            tracer = Tracer(run_id, spark)
            ops: list[dict] = record["ops"]

            def run_op(kind: str, i: int, traced: bool) -> None:
                entry = {"op": f"{kind}#{i}", "kind": kind, "traced": traced}
                ops.append(entry)
                try:
                    if kind == "readback":
                        body = lambda: wl.readback(spark)  # noqa: E731
                        check = wl.check_readback
                    else:
                        wl.before_op(spark, i)
                        body = lambda: wl.op(spark, i)  # noqa: E731
                        check = lambda: wl.check_op(i)  # noqa: E731
                    cpu0, steal0 = tree_cpu_s(os.getpid()), cpu_steal_s()
                    t0 = time.perf_counter()
                    if traced:
                        with instrument(tracer), tracer.span(entry["op"], "op") as sp:
                            body()
                        entry["span"] = sp.id
                    else:
                        body()
                    entry["seconds"] = time.perf_counter() - t0
                    entry["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
                    entry["steal_s"] = cpu_steal_s() - steal0
                except Exception as e:  # noqa: BLE001 - isolate, record, go on
                    entry["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
                    record["errors"].append({"op": entry["op"], "error": entry["error"],
                                             "traceback": traceback.format_exc()[-2000:]})
                    return
                t0 = time.perf_counter()
                try:
                    failures = check()
                except Exception as e:  # noqa: BLE001 - a crashing check is a failure
                    failures = [f"check raised {type(e).__name__}: {e}"]
                entry["check_s"] = time.perf_counter() - t0
                if failures:
                    entry["check_failures"] = failures
                    record["check_failures"].extend(f"{entry['op']}: {f}" for f in failures)

            run_op("cold", 0, traced=bool(args.trace))
            # A traced run interleaves untraced and traced warm operations
            # in U T T U blocks, so a steady drift in op time cancels out
            # of the tracing overhead.
            min_warm = max(wl.min_warm_ops, 4) if args.trace else wl.min_warm_ops
            i, warm = 1, 0
            loop_start = time.perf_counter()
            while (
                warm < min_warm
                or time.perf_counter() - loop_start < args.seconds
                or (args.trace and warm % 4)
            ):
                run_op("warm", i, traced=bool(args.trace) and warm % 4 in (1, 2))
                i, warm = i + 1, warm + 1
            run_op("readback", i, traced=bool(args.trace))

            if args.trace:
                tracer.resolve_jobs()
                for epoch, start_s in zip(epochs, starts):
                    tracer.record("get_spark", "plans.session", epoch, epoch + start_s)
        finally:
            if spark is not None:
                stop_jvm(spark)
    stamp["loadavg_end"] = list(os.getloadavg())
    stamp["cpu_steal_s"] = cpu_steal_s() - stamp.pop("cpu_steal_start_s")

    ok = [o for o in ops if "error" not in o]
    failed = sum(1 for o in ops if "error" in o or o.get("check_failures"))
    setup = {"start_s": starts[0], "restart_s": statistics.median(starts[1:])}
    if args.trace:
        metrics = traced_metrics(args, bench, wl, tracer, ops, setup, record)
    else:
        metrics = end_to_end_metrics(wl, ok, setups, rss.peak)
        record["setups_s"] = setups
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    if set(metrics) != set(names):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(names))} do not match BENCHMARK.json")
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    result = {
        "correct": failed == 0 and not record.get("coverage_missing"),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }
    shutil.rmtree(work, ignore_errors=True)
    return record, result


def unstolen_s(op: dict) -> float:
    """An operation's wall time without the CPU time the hypervisor gave
    to other machines: the process tree wanted ``cpu + steal`` seconds
    of CPU and got ``cpu``, so at the parallelism it ran with the wall
    time would have been ``seconds * cpu / (cpu + steal)``."""
    want = op["cpu_s"] + op["steal_s"]
    return op["seconds"] * op["cpu_s"] / want if want > 0 else op["seconds"]


def end_to_end_metrics(wl, ok: list[dict], setups: list[float], peak_rss: int) -> dict:
    by_kind = {k: [unstolen_s(o) for o in ok if o["kind"] == k] for k in ("cold", "warm", "readback")}
    warm_ops = [o for o in ok if o["kind"] == "warm" and not o["traced"]]
    warm = [unstolen_s(o) for o in warm_ops]

    def first(xs):
        return xs[0] if xs else None

    return {
        "setup_s": statistics.median(setups),
        "cold_s": first(by_kind["cold"]),
        "op_p50_s": statistics.median(warm) if warm else None,
        "records_per_s": wl.records_per_op * len(warm) / sum(warm) if warm else None,
        "op_cpu_s": statistics.median(o["cpu_s"] for o in warm_ops) if warm else None,
        "readback_s": first(by_kind["readback"]),
        "peak_rss_mb": peak_rss / 2**20,
    }


def traced_metrics(args, bench, wl, tracer, ops, setup, record) -> dict:
    from . import layers

    spans = tracer.by_id()
    traced = [o for o in ops if o["traced"] and "span" in o]
    warm_t = [o for o in traced if o["kind"] == "warm"]
    warm_u = [o["seconds"] for o in ops if o["kind"] == "warm" and not o["traced"] and "seconds" in o]
    cold = next((spans[o["span"]] for o in traced if o["kind"] == "cold"), None)
    readback = next((spans[o["span"]] for o in traced if o["kind"] == "readback"), None)
    overhead = (
        statistics.fmean(o["seconds"] for o in warm_t) - statistics.fmean(warm_u)
        if warm_t and warm_u else 0.0
    )
    names = [m["name"] for m in bench["per_layer"]]
    metrics = layers.layer_metrics(
        tracer, names, [spans[o["span"]] for o in warm_t], cold, readback, setup, overhead
    )
    seen = {s.module for s in tracer.spans}
    wanted = {layers.module_of(n) for n in names} - {None}
    missing = sorted(m for m in wanted & set(wl.primary_modules) if m not in seen)
    if missing:
        record["coverage_missing"] = missing
        record["check_failures"].append(f"no spans recorded for {missing}")
    out = WORK / "spans"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"
    with open(path, "w") as f:
        for rec in tracer.to_records():
            f.write(json.dumps(rec) + "\n")
        f.write(json.dumps({"run_id": tracer.run_id, "per_layer": metrics}) + "\n")
    record["spans_file"] = str(path.relative_to(ROOT))
    return metrics


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import relationalize_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library: {e}", file=sys.stderr)
        return 2
    bench = load_benchmark()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        record, result = run(args, bench)
    except Exception:  # noqa: BLE001 - the run could not complete
        traceback.print_exc()
        return 1
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    from perfbench.run import main as _main

    sys.exit(_main())
