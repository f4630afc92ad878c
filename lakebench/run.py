"""Lake benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload ingest_merge --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``).  The lines before it print every metric with its
unit and sample count, and the full detail is written to
``lakebench/_out/<workload>-seed<seed>-trace<t>.json``.

A run sets up nine times (a SparkSession from ``session.get_spark`` at
``local[N]``, N = the cores this process may use, then input generation
and the workload's preparation; ``setup_s`` is the median), then makes
passes until ``--seconds`` have elapsed, at least one.  ``run_s`` is the
median pass; with a short ``--seconds`` that is the first pass in the
fresh session, so it includes first-use costs (JIT, Python workers,
streaming start-up).  With ``--trace 1`` the Spark event log is on, one
untraced warm pass runs first, and the passes after it are traced and give
the per-layer numbers.  Everything a run writes stays under
``lakebench/_work`` and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from importlib import import_module
from pathlib import Path

import gen
import layers
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = workloads.PKG
WORKLOADS = ("ingest_merge", "analytic_mix", "lakehouse_cdc")
SETUPS = 9


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        # no JVM perf-data file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    return conf


def _shutdown() -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run(args, work: Path, cpus: int) -> dict:
    session = import_module(f"{PKG}.session")
    wl = workloads.make(args.workload, args.seed, ROOT)
    conf = _conf(work, bool(args.trace))

    # --- set-up, several times: session + inputs + preparation
    spark = None
    session_s, setup_s, digests, inputs = [], [], [], {}
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark(f"lakebench-{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        inp = work / f"inputs{k}"
        inputs = wl.generate(inp)
        wl.prepare(spark)
        setup_s.append(time.perf_counter() - t0)
        session_s.append(t1 - t0)
        digests.append(gen.digest(inp))
        if k:
            shutil.rmtree(work / f"inputs{k - 1}", ignore_errors=True)
    # the data's size against the driver heap that holds the session
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    inputs.update(all=gen.sizes(inp), driver_heap_bytes=heap, bytes_per_heap_byte=gen.sizes(inp)["bytes"] / heap)
    workloads.RSS_PIDS.append(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    # --- passes.  An untraced run times the first pass in its fresh session;
    # a traced run first makes one untraced warm pass, then traces.
    warm = []
    if args.trace:
        warm.append(wl.run_pass(spark, spans.Tracer(enabled=False), work, 0))
    tracer = spans.Tracer(enabled=bool(args.trace))
    passes = []
    deadline = time.perf_counter() + args.seconds
    while not passes or time.perf_counter() < deadline:
        with spans.rebind(tracer, PKG) if args.trace else nullcontext():
            passes.append(wl.run_pass(spark, tracer, work, len(passes) + 1))
    timed = warm + passes
    app_id = spark.sparkContext.applicationId
    _shutdown()

    # the inputs regenerated by each set-up must be byte-identical
    timed[0].checks.append(("inputs byte-identical across set-ups", len(set(digests)) == 1, str(digests)))
    attempted = sum(len(r.ops) + len(r.checks) for r in timed)
    failures = [f for r in timed for f in r.failures]
    failed = len(failures)

    run_s = [r.run_s for r in passes]
    e2e = {
        "setup_s": statistics.median(setup_s),
        "run_s": statistics.median(run_s),
        "peak_rss_mb": max(r.peak_rss_mb for r in passes),
    }
    detail = _detail(wl, passes, e2e)
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cpus, "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "inputs": inputs, "input_digest": digests[-1],
        "setup": {"session_s": session_s, "setup_s": setup_s, "warm_pass_s": [r.run_s for r in warm]},
        "passes": run_s,
        "ops": [[(o.kind, round(o.ms, 1)) for o in r.ops] for r in timed],
        "failures": failures[:50],
        "known_defects": _known_defects(passes),
        "end_to_end": e2e, "all_end_to_end": detail,
    }
    if args.trace:
        log = work / "eventlog"
        app_dir = next((p for p in log.iterdir() if app_id in p.name), log)
        jobs, execs = spans.parse_event_log(app_dir)
        per = [layers.layer_metrics(spans.attribute(tracer.spans, jobs, r.root, execs), r, r.run_s)
               for r in passes]
        per_layer = {k: statistics.median(p[k] for p in per) for k in per[0]}
        per_layer["session.start_s"] = statistics.median(session_s)
        per_layer["trace.overhead_s"] = tracer.overhead_s / len(passes)
        exact = layers.exact_counts(args.workload)
        varied = sorted(k for k in exact if len({p[k] for p in per}) > 1)
        out["per_layer"] = per_layer
        out["exact_counts"] = [k for k in exact if k not in varied]
        out["non_exact"] = dict(layers.NON_EXACT[args.workload],
                                **{k: "varied across this run's traced passes" for k in varied})
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in layers.END_TO_END.items()}
    out["result"] = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return out


def _detail(wl, passes, e2e) -> dict:
    """Every end-to-end metric of lakebench/design.json that the workload
    defines, with sample counts (the gated four plus the per-workload ones)."""
    d = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s", "samples": SETUPS},
        "run_s": {"value": e2e["run_s"], "unit": "s", "samples": len(passes)},
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB", "samples": len(passes)},
    }
    ops = [o for r in passes for o in r.ops]
    checks = [c for r in passes for c in r.checks]
    bad = sum(1 for o in ops if not o.ok) + sum(1 for _, ok, _ in checks if not ok)
    d["failed_ops_ratio"] = {"value": bad / max(1, len(ops) + len(checks)), "unit": "ratio",
                             "samples": len(ops) + len(checks)}

    def dist(name: str, vals: list[float], unit: str) -> None:
        d[f"{name}.p50"] = {"value": statistics.median(vals), "unit": unit, "samples": len(vals)}
        t = layers.tail(vals)
        d[f"{name}.tail"] = {"value": t["value"], "unit": unit, "samples": t["samples"],
                             "percentile": t["percentile"]}

    if wl.name in ("ingest_merge", "lakehouse_cdc"):
        d["space_amp"] = {"value": statistics.median(r.table_bytes / r.input_bytes for r in passes),
                          "unit": "ratio", "samples": len(passes)}
    if wl.name == "ingest_merge":
        d["rows_per_s"] = {"value": statistics.median(r.extra["rows"] / r.run_s for r in passes),
                           "unit": "rows/s", "samples": len(passes)}
    if wl.name == "lakehouse_cdc":
        dist("commit_ms", [x for r in passes for x in r.extra["commit_ms"]], "ms")
        dist("read_ms", [x for r in passes for x in r.extra["read_ms"]], "ms")
        d["replicate_s"] = {"value": statistics.median(r.extra["replicate_s"] for r in passes),
                            "unit": "s", "samples": len(passes)}
    if wl.name == "analytic_mix":
        dist("query_s", [x for r in passes for x in r.extra["query_s"]], "s")
    return d


def _known_defects(passes) -> dict:
    """Defects of the program that the numbers show but that are not
    failed operations: a later fix closes the gap without changing what a
    check accepts."""
    extra = passes[0].extra
    d = {}
    if "corrupt_rows_landed" in extra:
        d["sources.readers.corrupt_rows_landed"] = {
            "value": extra["corrupt_rows_landed"], "want": 0,
            "why": "the CSV reader keeps the planted malformed rows (FIXTURES.md A3 expects them dropped)"}
    if "batches_delivered" in extra:
        d["sources.versioned_stream.batches_delivered"] = {
            "value": extra["batches_delivered"], "want": extra["batches_with_rows"],
            "why": "the drain counts the compaction commit's 0-row slice as a delivered batch"}
    return d


def _print_report(out: dict) -> None:
    print(f"# {out['workload']} seed={out['seed']} trace={out['trace']} cores={out['cores']}")
    for name, m in out["all_end_to_end"].items():
        pct = f" (p{m['percentile']})" if m.get("percentile") else ""
        val = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {name:<22} {val:>14} {m['unit']:<7} n={m['samples']}{pct}")
    for name, m in out.get("per_layer", {}).items():
        print(f"  {name:<52} {m:.6g}")
    for name, k in out["known_defects"].items():
        print(f"  known defect {name} = {k['value']} (want {k['want']}): {k['why']}")
    for f in out["failures"]:
        print(f"  FAILED {f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "session.py").is_file() or not (ROOT / "tools" / "check.py").is_file():
        print(f"error: {ROOT} does not hold the {PKG} package and tools/check.py; "
              "run the benchmark from a checkout of the repository", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = HERE / "_work" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # the session module reads SPARK_GRAFT_CPUS at import; Python workers
    # import the package through PYTHONPATH
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    sys.path.insert(0, str(ROOT))
    try:
        out = run(args, work, cpus)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    dest = HERE / "_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text(json.dumps(out, indent=1, default=str))
    _print_report(out)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
