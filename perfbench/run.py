#!/usr/bin/env python3
"""Benchmark of the surfactant_spark KG pipeline, run from a checkout's root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[nproc]``, one closed-loop caller:
set up (session, warm-up, seeded inputs), then call the workload's
operation back to back until ``--seconds`` have passed, checking every
operation's output. With ``--trace 0`` the last stdout line is a JSON object
holding the end-to-end metrics; with ``--trace 1`` operations alternate
untraced and traced, and it holds the per-layer metrics, including the
tracing overhead. Metric names and units come from ``BENCHMARK.json``;
``perfbench/README.md`` says what each one measures.
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
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def environment(work: str) -> dict:
    """The run environment, set here and not in the package's session
    defaults: every core, a fixed driver heap that fits a small host and is
    touched at start-up (so heap growth and first-touch page faults land
    in setup, not in timed operations), Spark's scratch space inside the
    checkout, and the checkout on the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    }


def tail(xs):
    """(value, percentile, samples beyond it): the highest percentile
    with at least ten samples beyond it. With fewer than 21 samples no
    percentile above the median has ten beyond it, and the upper median
    is reported."""
    s = sorted(xs)
    n = len(s)
    k = n - 11 if n >= 21 else n // 2
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


def unit_of(name: str) -> str:
    """Unit of a metric, from its name's last part."""
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_bytes", "bytes"), ("docs_per_s", "docs/s"),
                         ("triples_per_s", "triples/s"), ("rows_per_s", "rows/s"), ("_s", "s")):
        if last.endswith(suffix):
            return unit
    if last in ("jobs", "pairs", "dropped_buckets", "noisy_ops", "jobs_per_batch"):
        return "count"
    return "ratio"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _warm_session(spark, seed: int) -> None:
    """One small job through the Arrow/Python path every workload uses,
    so Python workers and first-use code generation are paid in setup."""
    from surfactant_spark.synth import synth_pages_distributed

    pages, _ = synth_pages_distributed(spark, 64, seed=seed)
    pages.selectExpr("length(html) AS n").groupBy().sum("n").collect()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> dict:
    from perfbench import hostproc
    from perfbench.tracing import StatusStore, Tracer, merge
    from perfbench.workloads import WORKLOADS, install_tracing

    noise0 = hostproc.cpu_snap()
    t0 = time.perf_counter()
    from surfactant_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        _warm_session(spark, args.seed)
        warm_s = time.perf_counter() - t0
        tracer, store = Tracer(spark.sparkContext), StatusStore(spark.sparkContext)
        if args.trace:
            install_tracing(tracer)
        ctx = SimpleNamespace(spark=spark, tracer=tracer, work=work, seed=args.seed, size=args.size)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_noise = hostproc.host_noise(noise0)

        ops = []
        deadline = time.perf_counter() + args.seconds
        while True:
            i = len(ops)
            traced = bool(args.trace) and i % 2 == 1
            wl.reset()
            j0, c0, n0 = store.next_job_id(), hostproc.tree_cpu_s(), hostproc.cpu_snap()
            tracer.enabled, tracer.op = traced, i
            err = None
            with hostproc.RssSampler() as rss:
                t = time.perf_counter()
                try:
                    with tracer.span("op", adopt=True):
                        out = wl.op()
                except Exception as exc:  # a failed operation is counted, not fatal
                    traceback.print_exc()
                    out, err = None, f"operation raised {exc!r}"
                wall = time.perf_counter() - t
            tracer.enabled = False
            j1 = store.next_job_id()
            rec = {
                "traced": traced, "wall_s": wall, "cpu_s": hostproc.tree_cpu_s() - c0,
                "peak_rss_mb": rss.peak_mb, "jobs": j1 - j0,
            }
            rec["steal_frac"], rec["nonguest_frac"], rec["noisy"] = hostproc.host_noise(n0)
            if err is None:
                try:
                    rec["errors"] = wl.check(out)
                    rec["batches_ms"] = wl.batches_ms(wall, out)
                except Exception as exc:  # a check that cannot run counts as a mismatch
                    traceback.print_exc()
                    rec["errors"] = [f"check raised {exc!r}"]
            else:
                rec["errors"] = [err]
            if traced and err is None:
                groups = store.jobs_by_group(j0, j1)
                spans = tracer.op_spans(i)
                layers = wl.layers(spans, groups, out)
                tot = merge(groups.values())
                layers["spark.gc_s"] = tot["gc_s"]
                layers["spark.spill_bytes"] = tot["spill_bytes"]
                top = [s for s in spans if s.name == "op"]
                layers["trace.coverage"] = top[0].dur / wall if top else 0.0
                rec["layers"] = layers
            ops.append(rec)
            if time.perf_counter() >= deadline and (
                not args.trace or any(o["traced"] for o in ops)
            ):
                break
        return summarize(args, wl, ops, tracer, start_s, warm_s, setup_noise)
    finally:
        _stop(spark)


def summarize(args, wl, ops, tracer, start_s, warm_s, setup_noise) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    plain = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    wall = _median([o["wall_s"] for o in plain])
    batches = [b for o in plain for b in o.get("batches_ms", [])]
    tail_v, tail_pct, beyond = tail(batches) if batches else (0.0, 0.0, 0)
    e2e = {
        "setup_s": start_s + warm_s + sum(wl.setup_parts.values()),
        "wall_s": wall,
        "docs_per_s": wl.docs / wall if wall else 0.0,
        "triples_per_s": wl.triples / wall if wall else 0.0,
        "batch_p50_ms": _median(batches),
        "batch_tail_ms": tail_v,
        "cpu_s": _median([o["cpu_s"] for o in plain]),
        "peak_rss_mb": max((o["peak_rss_mb"] for o in plain), default=0.0),
    }
    layers = {}
    for name in {k for o in traced for k in o.get("layers", {})}:
        layers[name] = _median([o["layers"][name] for o in traced if name in o.get("layers", {})])
    layers.update({
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "synth.gen_s": wl.setup_parts.get("synth.gen_s", 0.0),
        "synth.staged_bytes": getattr(wl, "staged_bytes", 0),
        "trace.overhead_s": _median([o["wall_s"] for o in traced]) - wall if traced else 0.0,
        "host.steal_frac": _median([o["steal_frac"] for o in ops]),
        "host.nonguest_frac": _median([o["nonguest_frac"] for o in ops]),
        "host.noisy_ops": sum(o["noisy"] for o in ops),
    })
    failed = sum(1 for o in ops if o["errors"])
    kind = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }

    out = sys.stdout
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}", file=out)
    print(f"operations {len(ops)} ({len(traced)} traced), failed {failed}, "
          f"failed_frac {failed / len(ops):.3f}, "
          f"docs/op {wl.docs}, triples/op {wl.triples}", file=out)
    for i, o in enumerate(ops):
        flag = "  NOISY" if o["noisy"] else ""
        print(f"  op {i}{' traced' if o['traced'] else ''}: wall {o['wall_s']:.3f} s, "
              f"cpu {o['cpu_s']:.2f} s, jobs {o['jobs']}, steal {o['steal_frac']:.3f}, "
              f"nonguest {o['nonguest_frac']:.3f}{flag}", file=out)
        for e in o["errors"]:
            print(f"    MISMATCH {e}", file=out)
    print(f"batch_tail_ms is p{tail_pct:.0f} of {len(batches)} batches, {beyond} beyond it", file=out)
    steal, nonguest, noisy = setup_noise
    print(f"setup: steal {steal:.3f}, nonguest {nonguest:.3f}{'  NOISY' if noisy else ''}; "
          + ", ".join(f"{k} {v:.3f} s" for k, v in wl.setup_parts.items())
          + "; untimed " + ", ".join(f"{k} {v:.3f} s" for k, v in wl.untimed.items()), file=out)
    # every figure the run measured, including those BENCHMARK.json does not list
    for k, v in sorted((e2e if not args.trace else layers).items()):
        print(f"  {k} {float(v):.6g} {unit_of(k)}", file=out)

    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    stem = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({"ops": ops, "end_to_end": e2e, "per_layer": layers,
                   "setup": wl.setup_parts, "untimed": wl.untimed}, f, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="default", help="input sizes: default or tiny (smoke test)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "surfactant_spark")):
        print(f"perfbench: no surfactant_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS or args.size not in SIZES:
        print(f"perfbench: workloads are {sorted(WORKLOADS)}, sizes {sorted(SIZES)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(environment(work))
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
