"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_score,index_lifecycle}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` (removed at exit); traced runs
leave their spans in ``.perfbench_out/``. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it holds the same run in
detail: configuration, every metric with its sample count, and the checks.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_score", "index_lifecycle")
#: Driver heap unless ``SPARK_GRAFT_DRIVER_MEM`` is set: the inputs are
#: small, and a bounded heap keeps peak memory steady and modest.
DRIVER_MEM = "2g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pyspark_etl_twitter_spark")
    for d, _sub, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    res = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return res.stdout.strip() or None


def _prepare_env(work: str) -> int:
    """Keep every file the run writes inside ``work`` and pin the cores."""
    nproc = os.cpu_count() or 1
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        cpus = min(4, nproc)
    cpus = max(1, min(cpus, nproc))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "pyspark_etl_twitter_spark", "__init__.py")):
        print(f"perfbench: no library checkout at {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = _prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import harness

    ctx = harness.Ctx(
        root=ROOT,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        rec=harness.Recorder(trace=bool(args.trace)),
        t_process=harness.process_start_time(),
    )
    module = importlib.import_module(args.workload)
    try:
        ctx.start_session()
        module.run(ctx)
        ctx.finish()
        if ctx.trace and hasattr(module, "baseline"):
            module.baseline(ctx)
    except Exception:  # noqa: BLE001 - the run reports instead of crashing
        traceback.print_exc()
        return 1
    finally:
        ctx.stop_session()
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)

    if args.trace:
        # a layer the workload never entered did no work: it reads 0
        names = spec["per_layer"]
        for m in names:
            ctx.values.setdefault(m["name"], 0.0)
    else:
        names = spec["end_to_end"]
        missing = [m["name"] for m in names if m["name"] not in ctx.values]
        if missing:
            print(f"perfbench: workload did not report {missing}", file=sys.stderr)
            return 1
    metrics = {m["name"]: {"value": ctx.values[m["name"]], "unit": m["unit"]} for m in names}
    config = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "commit": _commit(),
        "source_sha": _source_digest(),
        **ctx.config,
    }
    detail = {
        "config": config,
        "samples": {k: {"value": v, "n": ctx.counts.get(k, 1)} for k, v in ctx.values.items()},
        "checks": ctx.mismatches[:20],
        "ops": [[o.name, round(o.wall_s, 4), round(o.cpu_s, 2)] for o in ctx.rec.ops],
    }
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        harness.write_json(
            out,
            {
                "config": config,
                "ops": [vars(o) for o in ctx.rec.ops],
                "spans": [vars(s) for s in ctx.rec.spans],
                "self_times": ctx.rec.self_times(),
                "stream_progress": ctx.progress.events if ctx.progress else [],
            },
        )
        detail["trace_file"] = os.path.relpath(out, ROOT)
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": ctx.n_mismatched == 0,
                "attempted": max(1, ctx.attempted),
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    t = time.perf_counter()
    code = main()
    print(f"perfbench: exit {code} after {time.perf_counter() - t:.1f} s", file=sys.stderr)
    sys.exit(code)
