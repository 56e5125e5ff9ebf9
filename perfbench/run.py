"""Benchmark entry point.

    python3 perfbench/run.py --workload <grid_stream|curation_batch> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Inputs are generated from the seed
(perfbench/gen.py) and cached under ``.perfbench/`` with the DuckDB goldens
(perfbench/oracle.py).  One Spark session of local[<cpus> / 2] with the
``session.get_spark`` defaults runs a checked warm-up pass, an untimed
settle pass and then the timed work of the workload (perfbench/workloads.py),
a fixed number of passes and micro-batches sized to about ``--seconds``.
Outputs are compared with the goldens after the session has stopped, so the
check never overlaps timed work.  The last stdout line is the result JSON;
``attempted``/``failed`` count passes and micro-batches, a pass failing when
it raises or its output differs from the golden.

``--trace 0`` reports the end-to-end metrics:

- setup_s: session start, input registration and the warm-up (the checked
  batch pass; for grid_stream also the drain's warm-up micro-batch);
- pass_s: median wall of the timed batch passes (noop sink), after the
  settle pass;
- seq_per_s: grid_stream: committed sequences / wall of the drain's timed
  micro-batches; curation_batch: input records (docs + vectors) / pass_s;
- batch_cycle_p50_s: median time between consecutive results: on
  grid_stream between the drain's sink commits; on curation_batch between
  consecutive pass completions, counted from the settle pass's, which is a
  pass wall plus the cleanup between passes;

Peak memory is not an end-to-end metric: the JVM's VmHWM follows G1's heap
sizing, which spread 0.13-0.39 (IQR/median) over 10 seeds.  Trace runs
report it as session.peak_rss_mb (VmHWM of the Spark JVM plus this process).

``--trace 1`` reports the per-layer profile (trace.PER_LAYER): the session
also writes Spark's event log and the timed work is cut to its minimum (one
timed pass, three timed micro-batches); after it one traced pass runs
with a span per layer call, the spans are joined with the event log by job
description, and one more pass runs on local[1].  The profile and spans are
also written under ``.perfbench/``.

Which layer metric should move which end-to-end metric:

| layer metric                                      | e2e metric                   | workload       | flat on        |
|---------------------------------------------------|------------------------------|----------------|----------------|
| sources.sequences.*                               | pass_s, setup_s              | grid_stream    | curation_batch |
| operators.{range_query,knn,join}.*, plan.exchanges | pass_s                      | grid_stream    | curation_batch |
| operators.{text,dedup,mixing,retrieval,similarity}.*, *.spill_mb | pass_s (session.peak_rss_mb) | curation_batch | grid_stream |
| sources.streams.*, streaming.*, jobs per batch    | seq_per_s, batch_cycle_p50_s | grid_stream    | curation_batch; pass_s on grid_stream |
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

START = time.time()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def _median(vals):
    return statistics.median(vals) if vals else 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _task_slots() -> int:
    """Half the CPUs: a task slot running a Python UDF keeps a Python worker
    busy beside its JVM thread, and the JIT and GC threads need CPUs too, so
    a slot per CPU oversubscribes them.  On 4 CPUs local[4] passes were no
    faster than local[2] ones."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _start_session(cores: int, run_dir: str, event_dir: str | None):
    from spatialflink_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # keep every file Spark writes inside the checkout
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # (-XX:-UsePerfData: no hsperfdata file under /tmp)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir
        # one plain JSON-lines file per application, readable without codecs
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _remove_stale_run_dirs() -> None:
    """Scratch of runs that were killed (their process is gone)."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "spatialflink_spark")
    ):
        print("perfbench: run from the root of a spatialflink_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    _remove_stale_run_dirs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # python-side temp files (session.ensure_pyfiles, worker scratch) too
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        result = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, run_dir: str) -> dict:
    from perfbench import gen, oracle, trace
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # a trace run prints no end-to-end metric: its untraced work is cut to
    # the warm-up and the untraced baseline of trace.overhead_s
    seconds = 0.0 if args.trace else args.seconds
    inp = gen.generate(
        os.path.join(WORK, "inputs"), args.seed, wl.copies, wl.slices(seconds), wl.n_docs, wl.n_vecs
    )
    event_dir = None
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)

    t0 = time.time()
    spark = _start_session(_task_slots(), run_dir, event_dir)
    session_s = time.time() - t0
    try:
        m = wl.measure(spark, inp, os.path.join(run_dir, "measure"), seconds, t0)
        if args.trace:
            tracer, profile = _trace(spark, wl, inp, run_dir, m)
            spark.stop()  # same JVM, warm JIT: a local[1] context for the baseline
            spark = _start_session(1, run_dir, None)
            profile["baseline.local1_pass_s"] = wl.one_pass(spark, inp, os.path.join(run_dir, "local1"))
            profile["session.peak_rss_mb"] = (
                _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb(os.getpid())
            )
    finally:
        _stop_session(spark)

    # the check runs after the session has stopped: it never overlaps a pass
    failed = m["failed"]
    con = oracle.connect(inp)
    try:
        for outputs in m["checks"]:
            bad = False
            for name, files in outputs.items():
                why = oracle.mismatch(con, files, oracle.golden(con, inp, name))
                if why:
                    print(f"perfbench: {args.workload} {name}: {why}", file=sys.stderr)
                    bad = True
            failed += bad
        records = wl.records(con)
    finally:
        con.close()

    print(
        f"perfbench: {args.workload} seed {args.seed}: inputs {t0 - START:.1f}s, session {session_s:.1f}s, "
        f"setup {m['setup_s']:.1f}s, passes {[round(x, 2) for x in m['pass_s']]}, "
        f"cycles {[round(x, 2) for x in m['cycles']]}, total {time.time() - START:.1f}s",
        file=sys.stderr,
    )
    if args.trace:
        profile.update(_event_metrics(tracer, event_dir))
        profile["session.start_s"] = session_s
        profile["session.warmup_s"] = m["warmup_s"]
        with open(os.path.join(WORK, f"profile-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump(profile, f, indent=1, sort_keys=True)
        metrics = {k: {"value": profile.get(k, 0), "unit": u} for k, u in trace.PER_LAYER.items()}
    else:
        pass_s = _median(m["pass_s"])
        metrics = {
            "setup_s": {"value": m["setup_s"], "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "seq_per_s": {"value": m.get("seq_per_s", records / pass_s), "unit": "seq/s"},
            "batch_cycle_p50_s": {"value": _median(m["cycles"]), "unit": "s"},
        }
    return {"correct": failed == 0, "attempted": m["attempted"], "failed": failed, "metrics": metrics}


def _trace(spark, wl, inp: str, run_dir: str, m: dict):
    """One traced pass plus the plan-shape counts of one pass; returns the
    tracer and the metrics measured so far."""
    from perfbench import trace

    tr = trace.Tracer(spark)
    traced_s, out = wl.traced(spark, inp, os.path.join(run_dir, "traced"), tr)
    counts = dict.fromkeys(trace.PLAN_NODES, 0)
    for text in wl.plan_text(spark, inp):
        for k, v in trace.plan_counts(text).items():
            counts[k] += v
    tr.dump(os.path.join(WORK, f"spans-{wl.name}.json"))
    out.update({f"plan.{k}": v for k, v in counts.items()})
    out["trace.pass_s"] = traced_s
    out["trace.overhead_s"] = traced_s - _median(m["pass_s"])
    return tr, out


def _event_metrics(tr, event_dir: str) -> dict:
    from perfbench import trace

    events: dict = {}
    for name in os.listdir(event_dir):
        for desc, vals in trace.parse_event_log(os.path.join(event_dir, name)).items():
            acc = events.setdefault(desc, {})
            for k, v in vals.items():
                acc[k] = acc.get(k, 0) + v
    return trace.layer_metrics(tr, events)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
