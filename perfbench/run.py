"""Product-path benchmark: one command, four workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload feed_read --seed 1 --seconds 10 --trace 0

Workloads: ``feed_read``, ``ingest_tick``, ``feed_mixed``,
``catalog_slice`` (see perfbench/README.md). The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is a detailed report
(sample counts, every detail metric, failure classes with their
first message, generator lateness); the traced run's spans are written
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "starryskyqueryengine_spark")

#: end-to-end metrics reported by every workload: name -> (unit, source)
#: where source maps a workload to the detailed metric it reports
END_TO_END = {
    "setup_s": ("s", {}),
    "op_cpu_ms": ("ms", {"feed_read": "feed_cpu_ms_per_req", "catalog_slice": "query_cpu_mean_ms"}),
    "batch_cpu_s": ("s", {"feed_read": "ingest_tick_cpu_p50_s", "feed_mixed": "ingest_tick_cpu_p50_s",
                          "ingest_tick": "ingest_tick_cpu_p50_s", "catalog_slice": "catalog_pass_cpu_s"}),
}


def derive(ctx, workload: str) -> dict:
    """The end-to-end metrics, read from the workload's detail metrics."""
    m = ctx.metrics
    out = {}
    for name, (unit, src) in END_TO_END.items():
        key = src.get(workload, name)
        if key in m:
            out[name] = {"value": m[key]["value"], "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"engine package not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 3
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from layers import PER_LAYER
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine from the checkout whatever the
    # working directory; scratch files stay in the run's work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)

    # a stop request unwinds through the finally below: the session, the
    # load generator and the work directory are cleaned up, not orphaned
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer() if args.trace else None
    ctx = workloads.Ctx(work, args.seed, args.seconds, tracer, nproc)
    ctx.meter = procs.TreeSampler(lambda: ctx.loadgen_pid)
    ctx.meter.start()
    crashed = None
    cpu0 = procs.host_cpu()
    try:
        workloads.WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 - reported below, never hidden
        crashed = traceback.format_exc()
    finally:
        # teardown is bounded (see reap); a stop request now would cut it
        # short and leave the JVM or its workers behind
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        ctx.meter.stop()
        ctx.info["jit_cpu_s"] = round(ctx.meter.jit_s(), 2)
        # time the hypervisor gave the VM's CPUs to others: the main
        # source of run-to-run drift on a shared host
        ctx.info["host_steal_share"] = round(procs.steal_share(cpu0, procs.host_cpu()), 4)
        # the JVM's Python workers are reparented when the JVM ends, so
        # they are listed now to be waited for below
        below = procs.descendants()
        t_stop = time.perf_counter()
        if ctx.spark is not None:
            try:
                ctx.spark.stop()
            except Exception:  # noqa: BLE001 - the JVM is ended below either way
                crashed = crashed or traceback.format_exc()
        procs.stop_jvm()
        stuck = procs.reap(below)
        ctx.info.setdefault("phases_s", {})["session_stop"] = round(time.perf_counter() - t_stop, 3)
        if tracer is not None and tracer.spans:
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only succeeds once no other run uses it
        except OSError:
            pass
    if crashed:
        print(crashed, file=sys.stderr)
        return 1
    if stuck:
        print(f"processes {stuck} would not end", file=sys.stderr)
        return 1

    ctx.metrics["peak_rss_mb"] = {"value": ctx.meter.peak_kb / 1024.0, "unit": "MB", "n": 1}
    ctx.metrics["failed_share"] = {"value": ctx.fail.count / max(1, ctx.attempted), "unit": "share",
                                   "n": ctx.attempted}
    e2e = derive(ctx, args.workload)
    if args.trace:
        metrics = {k: {"value": float(ctx.layers.get(k, 0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = e2e
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "detail_metrics": ctx.metrics, "end_to_end": e2e,
        "failures": {"by_class": ctx.fail.by_class, "first_message": ctx.fail.first},
        "info": ctx.info, "finished_at": time.time(),
    }
    with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ctx.fail.count == 0,
        "attempted": ctx.attempted,
        "failed": ctx.fail.count,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
