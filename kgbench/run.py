"""KG-construction benchmark: one seeded workload per invocation.

    python3 kgbench/run.py --workload kg_extract --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up (setup_s) starts a local[4] Spark
session, prepares the seeded input and runs the workload's job once in
the fresh session: that cold job warms the JVM (class loading, JIT
compilation, code generation) and starts the Python workers. Then the
job runs back to back (closed loop, one job at a time) until --seconds
have passed and the workload's `timed_jobs` jobs have run; figures are
medians over these warm jobs. A job's CPU time is counted until the JVM
has gone quiet after it (procs.Stopwatch). Every job's output, the cold
job's too, is checked; a job whose check fails counts as failed.

--trace 0 prints the end-to-end metrics. --trace 1 runs with Spark's event
log on, then adds one traced pass that calls each layer's public function
in turn, and prints the per-layer metrics. Spans of the traced pass are
written to kgbench/_work/traces/.

The last stdout line is one JSON object: correct, attempted, failed,
metrics ({name: {value, unit}}). Human-readable lines come before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import eventlog
import gen
import procs
import spans
from workloads import WORKLOADS as WORKLOAD_CLASSES, run_checkpointed

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SLOTS = 4
# Pages per input corpus; both workloads read the same corpus.
N_PAGES = 1000
# The program's session defaults to a 10g driver heap, sized for sf1.0
# suites; these inputs need far less, and the host is shared.
DRIVER_MEM = "2g"


def _session(work: Path, event_log: Path | None):
    from finance_sc_relations_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": str(work / "local"),
        # A pre-touched fixed-size heap keeps the JVM's resident size from
        # depending on when G1 happens to grow the heap, so peak_rss_mb
        # moves with off-heap and Python-worker memory, not with GC timing.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="kgbench", master=f"local[{SLOTS}]",
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _measure(spark, wl, seconds: float, rss) -> tuple[list, list, int]:
    """Closed loop until `seconds` have passed and the workload's
    timed_jobs jobs have run; (results, peak MB per job, jobs that
    raised)."""
    results, peaks, raised = [], [], 0
    deadline = time.perf_counter() + seconds
    while (len(results) < wl.timed_jobs
           or time.perf_counter() < deadline):
        rss.take()
        try:
            results.append(wl.job(spark))
        except Exception:  # a failed job is a measured outcome
            traceback.print_exc()
            raised += 1
            break
        finally:
            peaks.append(rss.take())
    return results, peaks, raised


def _report(workload: str, seed: int, cold, results, setup_s: float,
            peaks, failed: int, attempted: int) -> dict:
    """End-to-end metrics; prints the human-readable table as well."""
    med = statistics.median
    metrics = {
        "cpu_s": (med(r.cpu_s for r in results), "s"),
        "peak_rss_mb": (med(peaks), "MB"),
        "pass_rate": (1 - failed / attempted, "frac"),
        "setup_s": (setup_s, "s"),
    }
    # printed, not gated: wall times move with the host's load, and the
    # other figures are 0 or undefined on one workload (NOTES.md)
    wall = med(r.wall_s for r in results)
    extra = {"wall_s": (wall, "s"),
             "pages_per_s": (med(r.n_in / r.wall_s for r in results), "1/s"),
             "cold_wall_s": (cold.wall_s, "s"),
             "cold_cpu_s": (cold.cpu_s, "s"),
             "stolen_s": (med(r.steal_s for r in results), "s"),
             "error_rate": (failed / attempted, "frac"),
             "leaked_persists": (med(r.leaked_persists for r in results),
                                 "count")}
    if workload == "curate":
        extra["docs_per_s"] = extra["pages_per_s"]
        extra["survivors"] = (med(r.n_out for r in results), "docs")
    else:
        extra["triples_per_s"] = (med(r.n_out / r.wall_s for r in results),
                                  "1/s")
        for k in ("precision", "recall"):
            extra[f"triple_{k}"] = (min(r.info[k] for r in [cold] + results),
                                    "frac")
    print(f"kgbench {workload} seed={seed} timed jobs={len(results)}")
    for r in [cold] + results:
        print(f"  {'cold' if r is cold else 'warm'} job: wall {r.wall_s:.3f} s, "
              f"cpu {r.cpu_s:.3f} s, stolen {r.steal_s:.3f} s")
    for name, (value, unit) in {**metrics, **extra}.items():
        print(f"  {name:<18} {value:>12.4f} {unit}")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _trace(spark, wl, untraced_wall_s: float, untraced_hash: str,
           work: Path):
    """The traced pass on a warm session, plus, for kg_extract, one
    checkpointed run with a crash and resume. Returns (tracer, per-layer
    values measured here, results whose checks count, traced output equal
    to the untraced jobs')."""
    tracer = spans.Tracer(spark)
    out_hash, values = wl.traced(spark, tracer)
    self_sum = sum(s["end"] - s["start"] for s in tracer.spans)
    values.update({
        "trace.wall_s": tracer.wall_s,
        "trace.untraced_wall_s": untraced_wall_s,
        "trace.overhead_s": tracer.wall_s - untraced_wall_s,
        "trace.self_gap_s": tracer.wall_s - self_sum,
    })
    checked = []
    if wl.name == "kg_extract":
        res, ckpt_values = run_checkpointed(spark, wl.inp, work / "ckpt")
        values.update(ckpt_values)
        checked.append(res)
    return tracer, values, checked, out_hash == untraced_hash


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOAD_CLASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "finance_sc_relations_spark" / "__init__.py").is_file():
        print(f"package finance_sc_relations_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    work_root = HERE / "_work"
    work = work_root / f"run-{os.getpid()}"
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM spark-submit starts (its launcher too) keeps temp files in
    # the checkout and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))

    spark = rss = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, work / "eventlog" if args.trace else None)
        inputs = gen.prepare(work_root / "inputs", args.seed, N_PAGES)
        wl = WORKLOAD_CLASSES[args.workload](inputs)
        cold = wl.job(spark)
        setup_s = time.perf_counter() - t0

        rss = procs.PeakRss(spark.sparkContext._gateway.proc.pid)
        results, peaks, raised = _measure(spark, wl, args.seconds, rss)
        if not results:
            return 1
        attempted = 1 + len(results) + raised
        failed = raised + sum(not r.ok for r in [cold] + results)
        for r in [cold] + results:
            if not r.ok:
                print(f"check failed: {r.checks}", file=sys.stderr)
        if args.trace:
            # the untraced reference for the tracing overhead is the timed
            # jobs' median wall; the event log was on for them too
            reference = statistics.median(r.wall_s for r in results)
            tracer, values, checked, passed = _trace(
                spark, wl, reference, results[0].out_hash, work)
            attempted += 1 + len(checked)
            failed += (not passed) + sum(not r.ok for r in checked)
            if not passed:
                print("traced output differs from untraced output",
                      file=sys.stderr)
            for r in checked:
                if not r.ok:
                    print(f"checkpointed run failed: {r.checks}",
                          file=sys.stderr)
        rss.close()
        rss = None
        # one seed must give one output: across the jobs of this run and
        # across runs (the first run of a seed records its output hash)
        ref_file = inputs.root / f"{args.workload}.out_hash"
        if not ref_file.exists():
            ref_file.write_text(results[0].out_hash)
        expected = ref_file.read_text()
        differ = sum(r.out_hash != expected for r in [cold] + results)
        if differ:
            print(f"{differ} job(s) differ from this seed's recorded output",
                  file=sys.stderr)
            failed = min(attempted, failed + differ)

        if not args.trace:
            metrics = _report(args.workload, args.seed, cold, results,
                              setup_s, peaks, failed, attempted)
        else:
            procs.stop_session(spark)
            spark = None
            groups = eventlog.parse(eventlog.event_log_file(work / "eventlog"))
            layer = spans.layer_metrics(tracer.spans, groups, SLOTS)
            units = spans.per_layer_units()
            values = {**{k: 0.0 for k in units}, **layer, **values,
                      "cc.spark_jobs": spans.jobs_in(groups, "cc"),
                      "leaked_persists": statistics.median(
                          r.leaked_persists for r in results)}
            tracer.dump(
                work_root / "traces" / f"{args.workload}-seed{args.seed}.json",
                {"workload": args.workload, "seed": args.seed,
                 "metrics": values})
            print(f"kgbench {args.workload} seed={args.seed} traced: "
                  f"wall {values['trace.wall_s']:.3f} s, untraced "
                  f"{values['trace.untraced_wall_s']:.3f} s, overhead "
                  f"{values['trace.overhead_s']:.3f} s, self-time gap "
                  f"{values['trace.self_gap_s']:.3f} s")
            for name, value in values.items():
                if value:
                    print(f"  {name:<34} {value:>12.4f} {units[name]}")
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in units.items()}
    finally:
        if rss is not None:
            rss.close()
        if spark is not None:
            procs.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
