"""Benchmark harness for the KG engine.

    python3 perfbench/run.py --workload kg_import --seed 1 --seconds 27 \
        --trace 0

Runs one workload (see ``workloads.py`` and BENCHMARK.json) on
``local[<usable cores>]`` in this process and prints, as the last line
of stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. After set-up and one warm-up pass it measures
``--seconds`` worth of passes over the workload's operations: the
count is ``--seconds`` over the workload's nominal pass time (at least
two), fixed, so every run does the same work on any host.

* ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json:
  ``base_s`` and ``stress_s`` (sum over the workload's base or stress
  operations of their median wall time), ``setup_s`` (session start +
  median of the repeated input generation + oracle computation +
  warm-up) and ``peak_rss_mb`` (peak summed RSS of the Spark process
  tree while measuring).
* ``--trace 1`` first runs the workload with ``--trace 0`` in a child
  process, as the untraced reference. It then starts a session with
  Spark's event log on, runs every op inside a span (Spark jobs tagged
  with the span id) and runs the workload's layer decomposition. It
  reports the per-layer metrics, including ``trace.overhead_ratio``
  (traced ÷ untraced time of the first pass after the warm-up, so the
  event log's cost is in it). The
  spans, with Spark jobs and stages attached as children, are written
  to ``.perfbench/spans/``.

Every output is checked against an oracle outside the timed region;
``attempted``/``failed`` count operations, and a failure is an
exception or a mismatch. All files the run writes stay under
``.perfbench/`` in the checkout; the work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from dataclasses import dataclass
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
WALLS = "op walls: "  # stderr prefix of each op's walls


@dataclass
class Context:
    """What a workload's code gets from the harness."""
    spark: object
    seed: int
    cores: int
    work: Path
    tracer: object


def start_session(cores: int, work: Path, event_log: Path | None):
    from ldtab_clj_spark.session import get_spark
    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the session's default 8g heap is sized for bulk runs; these
        # inputs are small and the box is shared. The heap stays
        # pre-touched as in the default, so peak RSS does not swing
        # with the timing of heap growth.
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(event_log),
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] != "Z"  # zombies have ended


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until it and the
    pyspark daemon and workers it forked have exited (killing them after
    30 s)."""
    from rss import descendants
    gateway = spark.sparkContext._gateway
    kids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while alive := [p for p in kids if _running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(1)
            return
        time.sleep(0.1)


def measure(ops, passes: int, tracer, traced: bool) -> dict:
    """Run ``passes`` passes over ``ops``. Each op is timed, inside a
    span when ``traced``; its check runs after the clock stops."""
    walls = {name: [] for name, *_ in ops}
    last_out, last_span = {}, {}
    attempted = failed = 0
    for _ in range(passes):
        for name, _, run_op, check in ops:
            tracer.enabled = traced
            with tracer.span(f"op:{name}") as rec:
                t = time.perf_counter()
                try:
                    out, ok_run = run_op(), True
                except Exception:
                    traceback.print_exc()
                    out, ok_run = None, False
                wall = time.perf_counter() - t
            tracer.enabled = False
            if not ok_run:
                attempted += 1
                failed += 1
                continue
            try:
                oks = check(out)
            except Exception:
                traceback.print_exc()
                oks = [False]
            attempted += len(oks)
            failed += oks.count(False)
            if not all(oks):
                print(f"check failed: {name}", file=sys.stderr)
            walls[name].append(wall)
            last_out[name], last_span[name] = out, rec
    print(WALLS + json.dumps(
        {k: [round(x, 3) for x in v] for k, v in walls.items()}),
        file=sys.stderr)
    return {"walls": walls, "last_out": last_out, "last_span": last_span,
            "attempted": attempted, "failed": failed}


def group_s(ops, walls: dict, group: str) -> float:
    """Sum over the ops of ``group`` of each op's median wall; raises if
    an op never completed."""
    return sum(statistics.median(walls[name])
               for name, g, *_ in ops if g == group)


def metric_specs() -> tuple[dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def set_up(wl, args, cores: int, work: Path, event_log: Path | None,
           repeats: int):
    """Start a session, write the inputs ``repeats`` times, compute the
    oracle and run the warm-up pass. Returns the context, the
    workload's state and ops, and the set-up time: session start +
    median input time + oracle + warm-up."""
    from spans import Tracer
    t = time.perf_counter()
    spark = start_session(cores, work, event_log)
    session_s = time.perf_counter() - t
    ctx = Context(spark, args.seed, cores, work,
                  Tracer(spark.sparkContext, uuid.uuid4().hex[:12],
                         enabled=False))
    input_walls = []
    for k in range(repeats):
        d = work / f"inputs{k}"
        t = time.perf_counter()
        state = wl.inputs(ctx, d)
        input_walls.append(time.perf_counter() - t)
        if k < repeats - 1:
            shutil.rmtree(d, ignore_errors=True)
    t = time.perf_counter()
    state["oracle"] = wl.oracle(ctx, state)
    oracle_s = time.perf_counter() - t
    ops = wl.ops(ctx, state)
    t = time.perf_counter()
    for _, _, run_op, _ in ops:
        run_op()
    warm_s = time.perf_counter() - t
    print(f"setup: session {session_s:.2f}s, inputs "
          f"{[round(w, 2) for w in input_walls]}s, oracle {oracle_s:.2f}s, "
          f"warm-up {warm_s:.2f}s", file=sys.stderr)
    setup_s = (session_s + statistics.median(input_walls) + oracle_s
               + warm_s)
    return ctx, state, ops, setup_s


def untraced_run(args) -> tuple[dict, dict]:
    """Run the workload with ``--trace 0`` in a child process; returns
    its result and its op walls."""
    proc = subprocess.run(
        [sys.executable, str(BENCH_DIR / "run.py"), "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run exited with {proc.returncode}")
    walls = [line[len(WALLS):] for line in proc.stderr.splitlines()
             if line.startswith(WALLS)]
    return json.loads(proc.stdout.splitlines()[-1]), json.loads(walls[-1])


def run(args, work: Path) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    # a fixed pass count: every run does the same work, and warms
    # the JIT as far, however fast the host is at the time
    passes = max(2, int(args.seconds // wl.pass_s))
    if not args.trace:
        from rss import PeakRss
        ctx, _, ops, setup_s = set_up(wl, args, cores, work, None,
                                      SETUP_REPEATS)
        try:
            rss = PeakRss()
            rss.start()
            m = measure(ops, passes, ctx.tracer, traced=False)
            peak = rss.stop()
        finally:
            stop_session(ctx.spark)
        return {"attempted": m["attempted"], "failed": m["failed"],
                "metrics": {"base_s": group_s(ops, m["walls"], "base"),
                            "stress_s": group_s(ops, m["walls"], "stress"),
                            "setup_s": setup_s, "peak_rss_mb": peak}}

    # the untraced reference: this workload with tracing off, in its
    # own process and JVM as the traced half gets
    child, walls0 = untraced_run(args)
    event_log = work / "eventlog"
    ctx, state, ops, _ = set_up(wl, args, cores, work, event_log, 1)
    try:
        m = measure(ops, max(1, passes // 2), ctx.tracer, traced=True)
        ctx.tracer.enabled = True
        d = wl.decompose(ctx, state, m["last_out"])
        ctx.tracer.enabled = False
    finally:
        stop_session(ctx.spark)
    checks = d.pop("checks", [])
    attempted = child["attempted"] + m["attempted"] + len(checks)
    failed = child["failed"] + m["failed"] + checks.count(False)

    import layers
    from eventlog import read_event_log
    from spans import SpanStats
    stats = SpanStats(ctx.tracer.spans, read_event_log(event_log))
    metrics = layers.layer_metrics(d, stats, cores)
    if "queries." in wl.layers:
        metrics.update(layers.query_metrics(
            {q: statistics.median(w) for q, w in walls0.items()},
            m["last_span"], stats))
    metrics.update(layers.spark_metrics(stats))
    # traced ÷ untraced op time, each the first pass after one warm-up
    # pass: the cost of spans, job tags and the event log together
    metrics["trace.overhead_ratio"] = (
        sum(w[0] for w in m["walls"].values())
        / sum(w[0] for w in walls0.values()))
    out_file = (ROOT / ".perfbench" / "spans"
                / f"{args.workload}-seed{args.seed}-{ctx.tracer.run_id}.json")
    stats.write(out_file)
    print(f"spans written to {out_file}", file=sys.stderr)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    end_to_end, per_layer = metric_specs()
    wanted = per_layer if args.trace else end_to_end
    # the program under test: fail here, before Spark starts, if absent
    sys.path.insert(0, str(ROOT))
    import ldtab_clj_spark  # noqa: F401
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")

    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # keep every temp file of this process, the JVM and the Python
    # workers inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = result["metrics"]
    prefixes = WORKLOADS[args.workload].layers
    missing = sorted(k for k in wanted if k not in got
                     and (not args.trace or k.startswith(prefixes)))
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    # a layer this workload does not run did no work: it reads 0
    metrics = {k: {"value": float(got.get(k, 0.0)), "unit": unit}
               for k, unit in wanted.items()}
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
