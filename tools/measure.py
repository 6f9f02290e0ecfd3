"""Time registry rows and split each one by layer.

Usage:
  python tools/measure.py [--sf DIR] [--mult N] [--warmup W] [--reps R] \
      [--plans DIR] name [name ...]

Each row prints one JSON line:
- ``construct_s``: median seconds to build the row's DataFrame (driver side:
  Python and py4j), over the timed reps;
- ``action_s``: ``bench.warm_median`` of build + noop write, the bench's
  own timing rule;
- the ``perfbench.harness.spark_ledger`` sums over the timed reps: jobs,
  stages and tasks per rep; executor, shuffle, spill, input and output
  totals; ``driver_gap_s``, the time no Spark job was running;
- ``job_list``: the jobs of the last timed rep (id, seconds, stages,
  description), read from the status store with the UI off.

``--mult N`` runs the rows against an N× copy of the sf directory (see
``replicate_sf``). ``--plans DIR`` writes ``explain("formatted")`` of each
row to ``DIR/<name>.txt``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import warm_median  # noqa: E402
from perfbench.harness import Op, spark_ledger  # noqa: E402
from pyspark_etl_twitter_spark.plans.registry import QUERIES  # noqa: E402
from pyspark_etl_twitter_spark.session import get_session  # noqa: E402
from pyspark_etl_twitter_spark.sources.catalog import DEFAULT_SF_DIR  # noqa: E402

#: Offset added to every key of replica ``rep``: ``key + rep * KEY_OFFSET``.
KEY_OFFSET = 100_000_000
#: Dimension tables every replica shares; copied once, keys unchanged.
SHARED_TABLES = ("region", "nation")


def _is_key(field: pa.Field) -> bool:
    return (
        pa.types.is_integer(field.type)
        and field.name.endswith(("key", "_id"))
        and not field.name.endswith(("nationkey", "regionkey"))
    )


def replicate_sf(src: str, dst: str, n: int) -> None:
    """Write an ``n``× copy of the sf directory ``src`` into ``dst``.

    Replica ``rep`` of a table offsets each integer key column (``*key``,
    ``*_id``) by ``rep * KEY_OFFSET``, so keys stay unique and every foreign
    key still joins inside its replica. Nation and region keys are shared.
    pyarrow copies every other column as stored, nanosecond timestamps
    included."""
    os.makedirs(dst, exist_ok=True)
    for path in sorted(Path(src).glob("*.parquet")):
        table = pq.read_table(path)
        if path.stem not in SHARED_TABLES:
            keys = [i for i, f in enumerate(table.schema) if _is_key(f)]
            copies = []
            for rep in range(n):
                copy = table
                for i in keys:
                    shifted = pc.add(table.column(i), rep * KEY_OFFSET)
                    copy = copy.set_column(i, table.schema.field(i), shifted)
                copies.append(copy)
            table = pa.concat_tables(copies)
        pq.write_table(table, os.path.join(dst, path.name))


def job_list(spark, op: Op) -> list[dict]:
    """Every job submitted inside ``op``'s window, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    w0, w1 = op.start * 1000.0, op.end * 1000.0  # the window spark_ledger uses
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            continue
        t0 = float(sub.get().getTime())
        if not w0 <= t0 <= w1:
            continue
        t1 = float(comp.get().getTime()) if not comp.isEmpty() else t0
        desc = j.description()
        out.append(
            {
                "id": j.jobId(),
                "s": round((t1 - t0) / 1000.0, 3),
                "stages": j.stageIds().size(),
                "desc": (desc.get() if not desc.isEmpty() else j.name())[:90],
            }
        )
    return sorted(out, key=lambda job: job["id"])


def measure_row(spark, name: str, sf_dir: str, warmup: int = 1, reps: int = 3) -> dict:
    """Time registry row ``name`` on ``sf_dir`` and attribute its Spark jobs.

    Each timed rep is a ``harness.Op`` window built from the timestamps
    around the call (``Recorder.op`` would read ``/proc`` twice inside the
    timed region)."""
    fn, calls = QUERIES[name], itertools.count()
    ops: list[Op] = []
    construct: list[float] = []

    def action() -> None:
        timed = next(calls) >= warmup
        start, t0 = time.time(), time.perf_counter()
        df = fn(spark, sf_dir)
        built = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if timed:
            construct.append(built - t0)
            ops.append(Op(name, "measure", start, time.perf_counter() - t0))

    action_s = warm_median(action, warmup, reps)
    # the listener bus fills the status store asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ledger = spark_ledger(spark, ops)
    return {
        "name": name,
        "construct_s": round(statistics.median(construct), 3),
        "action_s": action_s,
        "reps": len(ops),
        **{k.removeprefix("spark."): round(v, 3) for k, v in ledger.items()},
        "job_list": job_list(spark, ops[-1]),
    }


def write_plan(spark, name: str, sf_dir: str, out_dir: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    os.makedirs(out_dir, exist_ok=True)
    Path(out_dir, f"{name}.txt").write_text(buf.getvalue())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--mult", type=int, default=1, help="run on an N× copy of --sf")
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write DIR/<name>.txt plans")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.mult < 1:
        ap.error("--mult must be at least 1")

    with tempfile.TemporaryDirectory(prefix="measure-") as tmp:
        sf_dir = args.sf
        if args.mult > 1:
            # a name of its own (sf0.1x10): stores cached per sf dir name
            # stay apart from the source's
            copy = os.path.join(tmp, f"{Path(sf_dir).name}x{args.mult}")
            replicate_sf(sf_dir, copy, args.mult)
            sf_dir = copy
        spark = get_session(
            app_name="measure",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
        for name in args.names:
            try:
                rec = measure_row(spark, name, sf_dir, args.warmup, args.reps)
                if args.plans:
                    write_plan(spark, name, sf_dir, args.plans)
            except Exception as exc:  # noqa: BLE001 - one failing row must not stop the rest
                traceback.print_exc()
                rec = {"name": name, "error": f"{type(exc).__name__}: {exc}"[:300]}
            print(json.dumps({"sf": args.sf, "mult": args.mult, **rec}), flush=True)
        spark.stop()


if __name__ == "__main__":
    main()
