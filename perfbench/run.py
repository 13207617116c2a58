"""Benchmark of the lucene_solr_spark engine through its public API.

    python3 perfbench/run.py --workload search-small --seed 1 --seconds 15 --trace 0

Run from the repository root. Spark runs as ``local[N]`` with N the
number of usable cores. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``). The line before it is the full
report: every number measured, the error rate, the checks that failed and
the stamps (source digest, date, cores, Spark version, driver memory,
seed). The exit code is 1 when any answer was wrong.

Everything the run writes goes under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (the traced run's spans) in the repository
root.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"


def source_digest() -> str:
    """sha256 over the engine's source files: identifies the code measured
    even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lucene_solr_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    return None


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(cores: int):
    from lucene_solr_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the heap is committed up front but not touched, so the JVM's
            # peak RSS counts only pages the driver has used; a fixed young
            # generation keeps G1 from sizing eden on its pause-time
            # heuristics (without it, one workload's peak RSS ranged from
            # 1.2 to 1.7 GB between runs)
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn256m -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(values: list, q: int) -> float:
    """q-th percentile (q in 1..99) by statistics.quantiles."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# units of the reported metrics that BENCHMARK.json does not carry
UNITS = {"error_rate": "ratio", "build_docs_per_s": "docs/s"}


def unit_of(spec: dict, name: str) -> str:
    return next(m["unit"] for m in spec["end_to_end"] if m["name"] == name)


def end_to_end(run) -> dict:
    """Every end-to-end metric of the run. BENCHMARK.json gates all but
    ``error_rate`` (0 on a correct run; the result line carries it as
    failed / attempted) and ``build_docs_per_s`` (one build per run)."""
    return {
        "error_rate": run.failed / max(run.attempted, 1),
        "build_docs_per_s": run.e2e["build_docs_per_s"],
        "query_p50_ms": pct(run.untraced_ms, 50),
        "query_p90_ms": pct(run.untraced_ms, 90),
        "freshness_p50_s": statistics.median(run.e2e["freshness_s"]),
        "index_bytes_per_content_byte": run.e2e["index_bytes_per_content_byte"],
        "write_amplification": run.e2e["write_amplification"],
        "driver_peak_rss_mb": run.e2e["driver_peak_rss_mb"],
        "setup_s": sum(run.setup.values()),
    }


def per_layer(run, names: list[str]) -> dict:
    """Median of each layer's samples; 0 for a layer this workload does
    not exercise (a delete or merge on a read-only workload)."""
    out = {n: statistics.median(v) for n, v in run.layers.items()}
    for phase in ("session", "corpus", "index", "warmup"):
        out[f"setup.{phase}_s"] = run.setup.get(phase, 0.0)
    return {n: out.get(n, 0.0) for n in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search-small", "ingest-nrt"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    steal0 = steal_s()
    try:
        t0 = time.perf_counter()
        spark = start_spark(len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        try:
            from spans import Tracer
            from workloads import WORKLOADS, Run

            tracer = Tracer(spark, enabled=bool(args.trace))
            run = Run(spark, args.seed, args.seconds, tracer, WORK)
            run.setup["session"] = session_s
            WORKLOADS[args.workload](run)
            e2e = end_to_end(run)
            version = spark.version
            cores = spark.sparkContext.defaultParallelism
            run.facts["checked_at_s"] = time.perf_counter() - t0
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        values = per_layer(run, [m["name"] for m in spec["per_layer"]])
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload,
        "stamp": {
            "source_sha256": source_digest(),
            "git_commit": git_commit(),
            "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "nproc": cores,
            "spark_version": version,
            "driver_memory": DRIVER_MEMORY,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpu_steal_s": steal_s() - steal0,
        },
        "problems": run.problems,
        "samples": run.samples,
        "setup": run.setup,
        "end_to_end": {
            n: {"value": v, "unit": UNITS.get(n) or unit_of(spec, n)} for n, v in e2e.items()
        },
        "facts": run.facts,
    }
    if args.trace:
        report["per_layer"] = values
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
