"""dlx_spark benchmark: per-op-kind latencies on fixed MARC store states.

Usage, from the root of a dlx_spark checkout:

    python3 dlxbench/run.py --workload catalog_read --seed 1 --seconds 10 --trace 0

One closed-loop client drives the library's public functions on
``local[4]``.  The run builds its inputs from ``--seed``, times a fixed
op list sized from ``--seconds``, checks every answer, and prints two
JSON lines: a detail line (per-kind summaries with sample counts and
tails, set-up phases, loadavg and cpu-probe brackets) and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates untraced and traced units of the window (a
read round, or an edit cycle), then runs the traced dedup-ingest phase
(``ingest.py``), reports the per-layer metrics of BENCHMARK.json, and
writes the spans as JSON lines under ``.dlxbench/spans/``.

Each run works in its own directory under ``.dlxbench/`` (Spark
warehouse, local dirs, temp files, store root) and removes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import Tracer  # noqa: E402

CPUS = 4
DRIVER_MEM = "3g"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _load():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def run_ops(ops, tracer, first_id: int):
    """Run an op list closed-loop.  Returns (samples, failures, window_s)
    where samples are (kind, seconds) pairs."""
    samples, failures = [], []
    t_start = time.perf_counter()
    for n, (kind, fn) in enumerate(ops):
        with tracer.span(f"op.{kind}", op=first_id + n):
            t0 = time.perf_counter()
            try:
                reason = fn()
            except Exception as exc:  # a crashed op is a failed op
                reason = f"{kind}: {type(exc).__name__}: {exc}"[:300]
            samples.append((kind, time.perf_counter() - t0))
        if reason:
            failures.append(reason)
    return samples, failures, time.perf_counter() - t_start


def engine_floor(spark, work_dir: str) -> dict:
    """Seconds of a trivial job and of a small scan+shuffle query: the
    per-job floors that turn a job count into time."""
    from pyspark.sql import functions as F

    def med(fn, n):
        out = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return stats.quartiles(out)[1]

    path = os.path.join(work_dir, "floor.parquet")
    spark.range(20_000).withColumn("k", F.col("id") % 97) \
        .write.mode("overwrite").parquet(path)
    trivial = med(lambda: spark.range(1).collect(), 7)
    scan = med(lambda: spark.read.parquet(path).groupBy("k").count()
               .collect(), 5)
    return {"engine.trivial_job_s": trivial, "engine.scan_shuffle_s": scan}


def run_halves(wl, tracer, first_id: int):
    """The window of a traced run: one untraced warm-up unit, then
    ``wl.trace_units`` pairs of an untraced and a traced unit of the
    same shape, each unit after the workload's ``between`` ops.
    So both halves see the same warm-up and store state.  Returns
    ({traced: samples}, failures, ops run)."""
    warm, plain, traced = (wl.window_units() for _ in range(3))
    units = [(None, warm[0])]
    for i, pair in enumerate(list(zip(plain, traced))[:wl.trace_units]):
        # ABBA order, so a warming drift favours neither half
        order = list(zip((False, True), pair))
        units += order[::-1] if i % 2 else order
    halves, failures, n = {False: [], True: []}, [], 0
    for i, (on, unit) in enumerate(units):
        tracer.enabled = bool(on)
        lead = wl.between() if i else []
        samples, fail, _ = run_ops(lead + unit, tracer, first_id + n)
        if on is not None:
            halves[on] += samples[len(lead):]
        failures += fail
        n += len(lead) + len(unit)
    tracer.enabled = False
    return halves, failures, n


def overhead_share(untraced: dict, traced: dict) -> float:
    """Tracing overhead from the two halves of a traced run: per kind,
    the median traced op against the median untraced one, weighted by
    the kind's op count."""
    base = sum(k["n"] * k["p50"] for k in untraced.values())
    more = sum(k["n"] * traced[name]["p50"] for name, k in untraced.items())
    return (more - base) / base


def layer_figures(spans: list[dict]) -> dict:
    """Median figures per span name: ``<name>_s``, ``_self_s``,
    ``_jobs``, ``_stages``, ``_tasks`` and ``_rows`` when recorded."""
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    out = {}
    for name, group in sorted(by.items()):
        def med(key):
            return stats.quartiles([float(s[key]) for s in group])[1]
        out[f"{name}_s"] = med("dur")
        out[f"{name}_self_s"] = med("self")
        for key in ("jobs", "stages", "tasks"):
            out[f"{name}_{key}"] = med(key)
        if all("rows" in s for s in group):
            out[f"{name}_rows"] = med("rows")
        out[f"{name}_n"] = len(group)
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, bench: dict, root: str, run_dir: str,
            out_dir: str) -> dict:
    from bench import _cpu_probe_ms

    stats.self_check()
    probe_start, load_start = _cpu_probe_ms(), _load()
    t_setup = time.perf_counter()
    from dlx_spark.session import get_spark
    spark = get_spark("dlxbench", cpus=CPUS)
    session_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from catalog import WORKLOADS
        from ingest import DedupIngest
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer,
                                      os.path.join(run_dir, "store"),
                                      args.seed, args.seconds)
        warm_ops = wl.setup()
        setup_spans = len(tracer.spans)
        tracer.enabled = False
        t_warm = time.perf_counter()
        _, failures, _ = run_ops(warm_ops, tracer, 0)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        attempted = len(warm_ops)
        detail = {
            "metric": "dlxbench_detail", "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cpus": CPUS, "setup_s": setup_s, "session_s": session_s,
            "setup_phases": wl.cat.phases, "warmup_s": warmup_s,
        }

        if not args.trace:
            ops = wl.window_ops()
            samples, fail, window_s = run_ops(ops, tracer, attempted)
            attempted += len(ops)
            failures += fail
            user = [(k, v) for k, v in samples if k in wl.user_kinds]
            kinds = stats.summarize_by_kind(samples)
            detail.update(window_s=window_s, ops=len(user), kinds=kinds)
            figures = {"setup_s": setup_s,
                       "ops_per_s": len(user) / window_s}
            figures.update({f"{k}_p50_s": v["p50"] for k, v in kinds.items()})
            metrics = {m["name"]: figures[m["name"]]
                       for m in bench["end_to_end"]}
        else:
            halves, fail, n = run_halves(wl, tracer, attempted)
            attempted += n
            failures += fail
            window_spans = len(tracer.spans) - setup_spans
            tracer.enabled = True
            ingest = DedupIngest(spark, tracer, args.seed)
            ingest.build()
            d_ops = ingest.ops()
            _, fail, _ = run_ops(d_ops, tracer, attempted)
            attempted += len(d_ops)
            failures += fail
            tracer.enabled = False
            untraced, traced = (
                stats.summarize_by_kind(
                    [(k, v) for k, v in halves[on] if k in wl.user_kinds])
                for on in (False, True))
            layers = layer_figures(tracer.spans)
            layers.update(engine_floor(spark, run_dir))
            layers.update(ingest.ratios())
            layers["session.start_s"] = session_s
            layers["trace.overhead_share"] = overhead_share(untraced, traced)
            layers["trace.spans"] = window_spans
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
            tracer.write(spans_path)
            detail.update(kinds=untraced, traced_kinds=traced, layers=layers,
                          spans_file=os.path.relpath(spans_path, root))
            metrics = {m["name"]: layers[m["name"]]
                       for m in bench["per_layer"]}
    finally:
        stop_spark(spark)

    detail["loadavg"] = {"start": load_start, "end": _load()}
    detail["cpu_probe_ms"] = {"start": probe_start, "end": _cpu_probe_ms()}
    detail["failures"] = failures[:10]
    print(json.dumps(detail))
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m: {"value": v, "unit": units[m]}
                    for m, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dlx_spark", "__init__.py")):
        print("dlxbench: run from the root of a dlx_spark checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"dlxbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    base = os.path.join(root, ".dlxbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    dirs = {d: os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    # every file Spark, the JVM and Python write goes under run_dir
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--conf", shlex.quote(f"spark.local.dir={dirs['local']}"),
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={dirs['tmp']}"),
        "pyspark-shell"])
    sys.path.insert(0, root)
    try:
        result = measure(args, bench, root, run_dir,
                         os.path.join(base, "spans"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
