"""Layered benchmark of webgraph_spark.

    python3 perfbench/run.py --workload serve-web --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json for why
each was chosen and which layers it bypasses):

  serve-web    successors(x) point and batch serving, per codec, on a
               cnr-style web graph (50k nodes, ~465k arcs) whose blocks
               the csr builders made on Spark
  job-synth    ``job.run`` PageRank jobs over a synthetic source
               table

Both workloads report the same metrics, each from its own operations:
``latency_ms`` is the mean point ``successors(x)`` latency (geometric
mean over the codecs) on serve-web and the mean job wall on job-synth;
``edges_per_s`` is cold-batch throughput on serve-web and PageRank
throughput on job-synth; ``bits_per_edge`` is the BV / Zuckerli density
on serve-web and that of the varint CSR the job wrote on job-synth. A
traced run measures every layer on both: serve-web also runs PageRank
and components on its graph, job-synth also serves the graph its job
built.

The seed only shapes the generated inputs. One client runs in a closed
loop; Spark runs on local[4]. Every operation's output is checked
against a numpy oracle and mismatches count as failed operations.

Output: a ``{"report": ...}`` line (input shape, environment, sample
counts and tail percentiles of every timing), then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the same
operations plus traced layer calls, reports the per-layer metrics and
writes spans to ``.perfbench/trace/``. Exits non-zero, printing no
result, when the checkout has no ``webgraph_spark`` or a metric of
BENCHMARK.json was not measured.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("serve-web", "job-synth")
CPUS = 4
DRIVER_MEM = "2g"


def _java_version() -> str:
    try:
        res = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired) as exc:
        return f"unavailable ({exc.__class__.__name__})"
    lines = (res.stderr or res.stdout).splitlines()
    return lines[0] if lines else "unknown"


def _environment(args, cpus: int, run_id: str) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "nproc": os.cpu_count(),
        "spark_cpus": cpus,
        "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "driver_mem": DRIVER_MEM,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "webgraph_spark")):
        print(f"perfbench: no webgraph_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    reported = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}

    from perfbench.stats import Tracer

    cpus = min(CPUS, os.cpu_count() or 1)
    run_id = uuid.uuid4().hex[:12]
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{run_id}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "WGS_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    tracer = Tracer(args.workload, run_id, enabled=bool(args.trace))
    try:
        if args.workload == "job-synth":
            from perfbench import jobsynth

            out = jobsynth.run(args.seed, args.seconds, tracer, work, cpus)
        else:
            from perfbench import serve

            out = serve.run(args.seed, args.seconds, tracer, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": out["setup_s"],
        **out["end_to_end"],
        "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    measured = e2e if not args.trace else out["per_layer"]
    missing = sorted(set(reported) - set(measured))
    if missing:
        print(f"perfbench: not measured: {', '.join(missing)}", file=sys.stderr)
        return 3
    metrics = {k: {"value": float(measured[k]), "unit": u} for k, u in reported.items()}
    report = {
        "environment": _environment(args, cpus, run_id),
        "shape": out["shape"],
        "end_to_end": e2e,
        "per_layer": out["per_layer"],
        "details": out["details"],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}"
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        os.makedirs(os.path.join(out_dir, "trace"), exist_ok=True)
        tracer.dump(os.path.join(out_dir, "trace", name + ".jsonl"))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
