"""Benchmark entry point: one workload per process; the JSON result is the
last line of standard output.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones (and writes the run's spans under
``.perfbench/traces/``). ``--workload all`` runs every workload untraced
and traced, each in a fresh process, prints the workload-specific figures
and the tracing overhead. Everything the run writes stays under
``.perfbench/`` in the checkout and is removed at exit, except the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("build-webtext", "serve-hot", "ingest-serve")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def machine_settings(workload: str, aqe: bool) -> dict:
    """Settings derived from this machine, never hard-coded: local[n] for
    the CPUs this process may run on, driver memory well below RAM."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = int(min(2048, ram // 4 // 2**20))
    return {
        "workload": workload,
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "driver_memory": f"{mem_mb}m",
        "ram_bytes": ram,
        "aqe": aqe,
        "client": "1 process, 1 thread, closed loop",
        "warmup": "Python workers and codegen warmed before timing; counted in setup_s",
    }


def start_spark(settings: dict, workdir: str):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = settings["driver_memory"]
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["TMPDIR"] = tmp
    # every JVM started below (launcher and driver) keeps its temp files
    # inside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from colbert_jl_spark.session import get_spark

    return get_spark(
        f"perfbench-{settings['workload']}",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.sql.adaptive.enabled": str(settings["aqe"]).lower(),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def detail(run, e2e: dict) -> dict:
    """The workload's own figures, per call kind; tails carry their
    percentile and sample count."""
    from workloads import BATCH_SIZE, tail

    out = {"setup_s": run.info["setup_s"], "error_rate": run.failed / max(run.attempted, 1)}
    s = run.samples
    for kind, name in (
        ("search", "search"), ("intersect", "intersect"),
        ("local", "search_local"), ("phrase", "phrase"),
    ):
        if s[kind]:
            value, p, n = tail(s[kind])
            out[f"{name}_p50_s"] = statistics.median(s[kind])
            out[f"{name}_tail_s"] = {"value": value, "percentile": p, "samples": n}
    if s["batch"]:
        out["batch_qps"] = len(s["batch"]) * BATCH_SIZE / sum(s["batch"])
    if s["build"]:
        out["build_docs_per_s"] = e2e["throughput_per_s"]
    if s["ingest"]:
        out["ingest_docs_per_s"] = run.info["wave_docs"] / statistics.median(s["ingest"])
        out["freshness_p50_s"] = statistics.median(s["freshness"])
    out["index_bytes_per_posting"] = e2e["index_bytes_per_posting"]
    return out


def run_one(args) -> int:
    t0 = time.perf_counter()
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from tracing import Tracer

    spec = load_spec()
    settings = machine_settings(args.workload, workloads.AQE[args.workload])
    workdir = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = None
    try:
        spark = start_spark(settings, workdir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, bool(args.trace))
        run = workloads.Run(spark, tracer, workdir, args.seed, args.seconds)
        run.info["t0"] = t0
        run.layer("session.start_s", session_s)
        e2e = workloads.WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.info["setup_s"]
        e2e["search_p50_s"] = statistics.median(run.samples["search"])
        settings.update(seed=args.seed, seconds=args.seconds, trace=args.trace)
        print(json.dumps({
            "settings": settings,
            "corpus": run.info["corpus"],
            "setup_marks_s": run.info.get("marks", {}),
            "loop_s": run.info["loop_s"],
            "wave_steps_s": run.info.get("wave_steps_s", []),
        }))
        print(json.dumps({"detail": detail(run, e2e)}))
        if args.trace:
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            run.layer("trace.overhead_share", tracer.overhead_s / run.info["loop_s"])
            wanted = spec["per_layer"]
            values = {m["name"]: median_or_zero(run.layers.get(m["name"], [])) for m in wanted}
        else:
            wanted = spec["end_to_end"]
            values = {m["name"]: e2e[m["name"]] for m in wanted}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    results = {}
    for w in WORKLOAD_NAMES:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(tr)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
            lines = [json.loads(x) for x in out.strip().splitlines() if x.startswith("{")]
            results[(w, tr)] = lines
            for line in lines[:-1]:
                print(json.dumps({"workload": w, "trace": tr, **line}))
            print(json.dumps({"workload": w, "trace": tr, **lines[-1]}))
    for w in WORKLOAD_NAMES:
        plain = results[(w, 0)][1]["detail"]["search_p50_s"]
        traced = results[(w, 1)][1]["detail"]["search_p50_s"]
        print(json.dumps({"workload": w, "tracing_overhead": {
            "search_p50_s_untraced": plain, "search_p50_s_traced": traced,
            "difference_s": traced - plain, "share": (traced - plain) / plain,
        }}))
    runs = [results[k][-1] for k in results]
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {f"{w}.{name}": m for (w, tr), lines in results.items() if tr == 0
                    for name, m in lines[-1]["metrics"].items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "colbert_jl_spark")):
        print(f"perfbench: no engine sources (colbert_jl_spark/) under {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
