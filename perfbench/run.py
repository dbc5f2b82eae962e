"""BM25-core benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts one fresh worker process per
leg (``perfbench/worker.py``) on ``local[nproc]``, with every scratch file
under ``.perfbench/`` in the current directory. ``--trace 0`` prints the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs an untraced
leg and then a traced leg of the same seed, and prints the per-layer metrics
of the traced leg, including the tracing overhead: traced value minus
untraced value for each end-to-end metric. The line before the last holds
the workload's own figures by name, with units and sample counts. The last
line is the result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170  # every run must end within 180 s


def driver_memory() -> str:
    """A quarter of the host's (or the cgroup's) memory, 1-4 GiB: the
    session default of 24g does not fit a small host."""
    total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            lim = f.read().strip()
        if lim.isdigit():
            total = min(total, int(lim))
    except OSError:
        pass
    return f"{max(1, min(4, total // 4 // (1 << 30)))}g"


def window_probe() -> dict | None:
    """The repository's host memory-bandwidth/compute probe, recorded next
    to traced results as a field only; it never adjusts a timing."""
    sys.path.insert(0, "tools")
    try:
        from scaling import window_probe as probe
    except ImportError:
        return None
    finally:
        sys.path.remove("tools")
    return probe()


def _pgid_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == pgid and fields[0] != "Z":
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def run_leg(args, trace: int, root: str, deadline: float) -> dict:
    """One worker process in its own process group; every process of the
    group is stopped before this returns."""
    work = os.path.join(root, "runs", f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.getcwd(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", work, "--out", out]
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            for _ in range(100):
                if not _pgid_alive(proc.pid):
                    break
                time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"{args.workload} leg (trace={trace}) failed, rc={proc.returncode}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    for sub in ("tmp", "spark-local", "index"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    os.remove(os.path.join(work, "corpus.parquet"))
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("serve", "ingest"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.exists(os.path.join("bm25_pagerank_rpi_spark", "__init__.py")):
        raise SystemExit("run from the repository root: bm25_pagerank_rpi_spark/ not found")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    deadline = time.time() + DEADLINE_S
    root = os.path.abspath(".perfbench")
    probe = window_probe() if args.trace else None
    legs = [run_leg(args, 0, root, deadline)]
    if args.trace:
        legs.append(run_leg(args, 1, root, deadline))
    res = legs[-1]

    values = dict(res["layers"] if args.trace else res["e2e"])
    if args.trace:
        for name, v in res["e2e"].items():
            values[f"trace_overhead.{name}"] = v - legs[0]["e2e"][name]
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        if m["name"] not in values:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}

    attempted = sum(r["attempted"] for r in legs)
    failed = sum(r["failed"] for r in legs)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / attempted, "failures": [r["failures"] for r in legs if r["failed"]],
        "report": res["report"], "timeline": res["timeline"],
    }
    if args.trace:
        report["spark_phases"] = res["report_phases"]
        report["layers"] = res["layers"]
        report["trace_overhead"] = {k: v for k, v in values.items() if k.startswith("trace_overhead.")}
        report["window_probe"] = probe
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
