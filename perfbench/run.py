"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 \
        --trace 0

Runs one workload from the repository root on ``local[nproc]``, prints
human-readable lines and, as the last line, one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch files go to ``.perfbench_work/`` under the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
from workloads import QUERY_LEAVES, WORKLOADS, Recorder  # noqa: E402

END_TO_END = {"setup_s": "s", "cycle_s": "s"}


def _span_metrics(prefix: str, counters: tuple[str, ...]) -> list[str]:
    return [f"{prefix}.{c}" for c in counters]


def per_layer_names() -> list[str]:
    names = ["process.peak_rss_mb", "session.start_s",
             "rules.clean_sequences.build_s"]
    names += _span_metrics("detector.confusion_matrix",
                           ("wall_s", "jobs", "task_s", "shuffle_mb",
                            "leaked_rdds"))
    names += [f"rollup.{f}.build_s"
              for f in ("salted_rollup", "rollup_cascade", "gap_fill")]
    names += _span_metrics("tierstore.write_tier",
                           ("wall_s", "jobs", "task_s", "shuffle_mb",
                            "spill_mb", "gc_s", "driver_s"))
    for f in ("partition_fingerprints", "stale_days"):
        names += _span_metrics(f"tierstore.{f}", ("wall_s", "jobs", "task_s"))
    names += _span_metrics("pipeline.run", ("wall_s", "jobs", "leaked_rdds"))
    names += _span_metrics("pipeline.run_resume",
                           ("wall_s", "jobs", "leaked_rdds"))
    names += _span_metrics("pipeline.ingest_late",
                           ("wall_s", "jobs", "task_s", "shuffle_mb",
                            "leaked_rdds"))
    names += _span_metrics("compress.pack_tier", ("wall_s", "task_s"))
    for kind in ("full", "pruned"):
        names += _span_metrics(f"compress.unpack_{kind}",
                               ("wall_s", "task_s", "input_mb"))
    for res in ("1m", "1h", "1d"):
        names += _span_metrics(f"router.read_{res}",
                               ("plan_s", "wall_s", "jobs", "input_mb"))
    names += _span_metrics("tierstore.verify_cascade",
                           ("wall_s", "task_s", "shuffle_mb"))
    for q in QUERY_LEAVES:
        names += _span_metrics(f"q.{q}", ("build_s", "build_jobs", "exec_s",
                                          "exec_task_s", "leaked_rdds"))
    return names


def per_layer_unit(name: str) -> str:
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


def layer_value(name: str, stats: dict, info: dict, n_cycles: int) -> float:
    """A per-layer metric, per cycle. Spans that the workload never
    entered read 0."""
    if name.endswith(".leaked_rdds") or name.split(".")[0] in (
            "process", "session"):
        return float(info.get(name, 0))
    span, counter = name.rsplit(".", 1)
    child = {"build_s": ("build", "wall_s"), "build_jobs": ("build", "jobs"),
             "exec_s": ("exec", "wall_s"), "exec_task_s": ("exec", "task_s"),
             "plan_s": ("plan", "wall_s")}
    if counter in child:
        sub, counter = child[counter]
        span = f"{span}.{sub}"
    s = stats.get(span)
    if s is None:
        return 0.0
    if counter == "driver_s":
        value = s["wall_s"] - s["job_s"]
    else:
        value = s[counter]
    return value / n_cycles


def workload_lines(name: str, wl, ops: list[dict]) -> list[tuple]:
    """The named end-to-end figures of one workload, for the human lines."""
    nan = float("nan")

    def med(kind):
        xs = [o["s"] for o in ops if o["kind"] == kind]
        return statistics.median(xs) if xs else nan

    out = []
    if name == "pipeline":
        out += [("build_points_per_s", wl.rows / med("build"), "1/s"),
                ("flag_points_per_s", wl.rows / med("flag"), "1/s"),
                ("resume_s", med("resume"), "s"),
                ("late_refresh_s", med("late"), "s")]
    else:
        for kind in sorted({o["kind"] for o in ops}):
            xs = [o for o in ops if o["kind"] == kind]
            out.append((f"q.{kind}.build_s",
                        statistics.median(o.get("build", nan) for o in xs),
                        "s"))
            out.append((f"q.{kind}.exec_s",
                        statistics.median(o.get("exec", nan) for o in xs),
                        "s"))
    return out


def cycle_seconds(ops: list[dict]) -> float:
    """One cycle's time: the sum over the cycle's operations of each
    operation's median time in the run."""
    kinds = {o["kind"] for o in ops}
    return sum(statistics.median(o["s"] for o in ops if o["kind"] == k)
               for k in kinds)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import traval_spark  # noqa: F401  (the program under test)
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.abspath(".perfbench_work")
    for d in ("state", "eventlog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEM"] = heap = harness.driver_heap()

    tracer = harness.Tracer(bool(args.trace))
    rec = Recorder()
    wl = WORKLOADS[args.workload](work, args.seed, tracer, rec)
    t0 = time.perf_counter()
    wl.prepare()
    wl.info["prepare_s"] = round(time.perf_counter() - t0, 3)
    spark = None
    cycles = []
    with harness.RssSampler() as rss:
        try:
            # the set-up a user of the engine pays once per job: JVM
            # launch and session start, then the fixture load
            t0 = time.perf_counter()
            spark = harness.start_session(work, bool(args.trace))
            start_s = time.perf_counter() - t0
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            tracer.spark = spark
            wl.warm_up(spark)
            wl.wrap_layers()
            steal0 = harness.steal_s()
            t_end = time.perf_counter() + args.seconds
            while len(cycles) < wl.min_cycles or time.perf_counter() < t_end:
                n_ops = len(rec.ops)
                wl.cycle(spark)
                cycles.append(sum(o["s"] for o in rec.ops[n_ops:]
                                  if not o["probe"]))
                if args.trace:
                    wl.traced_extras(spark)
            # a shared VM's neighbours show here, not in the program
            wl.info["cycles_steal_s"] = round(harness.steal_s() - steal0, 3)
        finally:
            tracer.unwrap()
            if spark is not None:
                harness.stop_session(spark)

    wl.info["check_s"] = round(rec.check_s, 3)
    wl.info["wall_s"] = round(time.perf_counter() - T0, 3)
    ops = [o for o in rec.ops if not o["probe"]]
    failed = sum(1 for o in rec.ops if not o["ok"])
    e2e = {"setup_s": setup_s, "cycle_s": cycle_seconds(ops)}
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"driver_heap={heap} cpus={os.cpu_count()} "
          f"cycles={[round(c, 3) for c in cycles]} "
          f"ops={len(ops)} probes={len(rec.ops) - len(ops)} "
          f"session_start_s={start_s:.3f}")
    for k, v in wl.info.items():
        print(f"info {k} {v}")
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {END_TO_END[k]}")
    for k, v, unit in [*workload_lines(args.workload, wl, ops),
                       ("peak_rss_mb", rss.peak_mb, "MB"),
                       ("fail_ratio", failed / len(rec.ops), "ratio")]:
        print(f"metric {k} {v:.6g} {unit}")
    for msg in rec.failures:
        print(f"FAIL {msg}")

    if args.trace:
        info = dict(wl.info)
        info["process.peak_rss_mb"] = rss.peak_mb
        info["session.start_s"] = start_s
        stats = tracer.layer_stats(
            harness.read_event_logs(os.path.join(work, "eventlog")))
        metrics = {n: {"value": round(layer_value(n, stats, info, len(cycles)),
                                      6),
                       "unit": per_layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {k: {"value": round(v, 6), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0,
                      "attempted": len(rec.ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
