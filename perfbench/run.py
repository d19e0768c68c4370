"""Crawl-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` outside
every timer; each timed iteration's output is checked against an expectation
computed without the engine. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md). The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries context (host burn, set-up repetitions, iteration times,
errors). Everything is written under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# the driver heap of every run; -Xms + AlwaysPreTouch make it the fixed base
# of peak_pss_mb, so the caller's environment must not change it
HEAP = "1536m"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "urls_per_s": "1/s", "batch_s_p50": "s",
    "ingest_records_per_s": "1/s", "export_records_per_s": "1/s",
    "output_bytes_per_url": "B", "peak_pss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (the ``--trace 1`` set)."""
    from spans import SPAN_FIELDS

    units = {}
    for span in ("operators.frontier.init", *CALL_SPANS):
        for field, unit in SPAN_FIELDS.items():
            units[f"{span}.{field}"] = unit
    units["plans.session.get_spark.wall_s"] = "s"
    for span in SELF_SPANS:
        units[f"{span}.self_s"] = "s"
    for count in ("jobs", "stages", "tasks"):
        units[f"operators.frontier.batch.{count}"] = "count"
    units["kernels.warcrec.parse_gz_rec_per_s"] = "1/s"
    units["kernels.warcrec.serialize_gz_rec_per_s"] = "1/s"
    units["trace.iteration.wall_s"] = "s"
    units["trace.unattributed_s"] = "s"
    units["trace.overhead_s"] = "s"
    units["host.cpu_burn_s"] = "s"
    return units


CALL_SPANS = (
    "plans.snapstore.write_df.scheduled", "plans.snapstore.write_df.bloom",
    "plans.snapstore.write_df.frontier", "plans.snapstore.commit",
    "plans.snapstore.compact_seen", "operators.seen.merge_blob_map",
    "operators.frontier.batch.unattributed",
    "sources.read_warc", "sources.pages_from_records", "sources.write_warc",
    "sources.cdx",
)
# spans with children; their self time is the span minus its children
# (for the archive stages: the stage minus the standalone scan)
SELF_SPANS = (
    "plans.snapstore.compact_seen", "sources.pages_from_records",
    "sources.write_warc", "sources.cdx",
)


def setup_environment() -> int:
    """Keep every file the run writes inside the checkout; returns cores."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    return len(os.sched_getaffinity(0))


def start_session(cores: int):
    from warc_spark.plans.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # a fixed, pre-touched heap keeps the JVM's share of peak RSS
            # from depending on when the collector last ran
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_jvm() -> None:
    """End the JVM that the first session launched and wait until it has
    exited, so that no process of the run outlives it. Closing its stdin is
    the gateway's own signal to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    proc.stdin.close()
    proc.wait(timeout=120)


def host_burn() -> float:
    """A short no-JVM cpu burn: host drift, recorded beside every run."""
    from bench_scaling import _cpu_burn

    t = time.perf_counter()
    _cpu_burn(3_000_000)
    return time.perf_counter() - t


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def timed_iterations(wl, seconds: float) -> int:
    """How many iterations a run times: ``--seconds`` over the workload's
    nominal iteration time, so the count depends on the request alone and
    never on how fast this host or this commit happens to be."""
    return max(1, int(seconds // wl.nominal_s))


def run_iterations(wl, spark, tracer, count: int, log) -> tuple:
    """``count`` iterations. A raise or a failed output check counts as a
    failed iteration and the run goes on."""
    done, failed = [], 0
    for _ in range(count):
        t = time.perf_counter()
        try:
            done.append(wl.iterate(spark, tracer, len(log["iterations"])))
            last = done[-1]["wall_s"]
            log["intervals"].append([round(x, 3) for x in done[-1]["intervals"]])
        except Exception:  # noqa: BLE001 - the boundary that must keep running
            failed += 1
            last = time.perf_counter() - t
            log["errors"].append(traceback.format_exc(limit=3)[-2000:])
        log["iterations"].append(round(last, 4))
    return done, count, failed


def end_to_end(results: list[dict], setup: list[float], peak_bytes: int,
               tried: list[float]) -> dict:
    """Medians over the iterations that passed their check; when none did,
    only the times are reported (the run is then incorrect anyway)."""
    med = statistics.median
    if not results:
        values = dict.fromkeys(END_TO_END, 0.0)
        values.update(setup_s=med(setup), wall_s=med(tried),
                      peak_pss_mb=peak_bytes / 1e6)
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    values = {
        "setup_s": med(setup),
        "wall_s": med(r["wall_s"] for r in results),
        "urls_per_s": med(r["items"] / r["wall_s"] for r in results),
        "batch_s_p50": med(x for r in results for x in r["intervals"]),
        "ingest_records_per_s": med(r["ingest_records_per_s"] for r in results),
        "export_records_per_s": med(r["export_records_per_s"] for r in results),
        "output_bytes_per_url": med(r["output_bytes"] / r["items"] for r in results),
        "peak_pss_mb": peak_bytes / 1e6,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def fold_iteration(wl, spark, tracer, it: dict, scan: dict | None) -> dict:
    """Per-layer rows of one traced iteration from its spans and the status
    store; names not exercised by this workload are absent."""
    from spans import StageLedger, dur, span_groups, sum_rows

    spans = [it] + tracer.descendants(it) + ([scan] if scan else [])
    idle_groups = it.get("idle_groups", {})
    groups = [s["group"] for s in spans if s["group"]] + list(idle_groups.values())
    ledger = StageLedger(spark.sparkContext, groups)
    rows: dict[str, dict] = {}
    by_name: dict[str, list[dict]] = {}
    for s in tracer.children(it) + ([scan] if scan else []):
        by_name.setdefault(s["name"], []).append(
            ledger.fold(span_groups(tracer, s), dur(s)))
    for name, parts in by_name.items():
        rows[name] = sum_rows(parts)
    extra = {"trace.iteration.wall_s": dur(it)}
    if hasattr(wl, "batch_spans"):
        batches = wl.batch_spans(tracer, it)
        calls = [s for s in tracer.children(it) if s["batch"] is not None]
        last = max(batches)
        unattr, counts = [], []
        for b, (start, end) in batches.items():
            mine = [s for s in calls if s["batch"] == b]
            idle = [g for k, g in idle_groups.items()
                    if k == b or (b == last and k > last)]
            unattr.append(ledger.fold(
                idle, end - start - sum(dur(s) for s in mine)))
            counts.append(ledger.fold(
                idle + [g for s in mine for g in span_groups(tracer, s)], 0.0))
        rows["operators.frontier.batch.unattributed"] = sum_rows(unattr)
        for k in ("jobs", "stages", "tasks"):
            extra[f"operators.frontier.batch.{k}"] = statistics.median(
                c[k] for c in counts)
        extra["trace.unattributed_s"] = rows[
            "operators.frontier.batch.unattributed"]["wall_s"]
        compact = [s for s in calls if s["name"] == "plans.snapstore.compact_seen"]
        extra["plans.snapstore.compact_seen.self_s"] = sum(
            dur(s) - sum(dur(c) for c in tracer.children(s)) for s in compact)
    else:
        stages = tracer.children(it)
        extra["trace.unattributed_s"] = dur(it) - sum(dur(s) for s in stages)
        for s in stages:
            extra[f"{s['name']}.self_s"] = dur(s) - dur(scan)
    return {"rows": rows, "extra": extra}


def per_layer(folds: list[dict], setup_rows: list[dict], session_s: list[float],
              untraced_wall: float, kernels: dict, burn: float) -> dict:
    from spans import SPAN_FIELDS, median_rows

    units = per_layer_units()
    values = {name: 0.0 for name in units}
    if setup_rows:
        for f, v in median_rows(setup_rows).items():
            values[f"operators.frontier.init.{f}"] = v
    values["plans.session.get_spark.wall_s"] = statistics.median(session_s[1:])
    names = {n for f in folds for n in f["rows"]}
    for name in names:
        rows = [f["rows"][name] for f in folds if name in f["rows"]]
        for field in SPAN_FIELDS:
            key = f"{name}.{field}"
            if key in values:
                values[key] = statistics.median(r[field] for r in rows)
    for key in {k for f in folds for k in f["extra"]}:
        if key in values:
            values[key] = statistics.median(f["extra"][key] for f in folds)
    values["trace.overhead_s"] = values["trace.iteration.wall_s"] - untraced_wall
    for k, v in kernels.items():
        values[f"kernels.warcrec.{k}"] = v
    values["host.cpu_burn_s"] = burn
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("crawl_polite", "archive_roundtrip"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="input size; 'toy' is for the self-test")
    p.add_argument("--inject", choices=("none", "corrupt-input", "perturb-expected"),
                   default="none",
                   help="self-test fault: corrupt one input byte, or perturb "
                        "the expected output fingerprint")
    args = p.parse_args(argv)
    cores = setup_environment()

    from kernels_leg import REFERENCE, kernels_leg
    from spans import PeakPss, StageLedger, Tracer, dur, span_groups
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](WORK, args.seed, args.scale,
                                  corrupt=args.inject == "corrupt-input")
    if args.inject == "perturb-expected":
        fp = wl.expected["fingerprint"]
        wl.expected["fingerprint"] = ("1" if fp[0] == "0" else "0") + fp[1:]
    log = {"workload": args.workload, "seed": args.seed, "cores": cores,
           "iterations": [], "intervals": [], "errors": []}

    # Set-up = session start + program-side preparation, done SETUP_REPS
    # times; setup_s is the median. The first start also launches the JVM;
    # later ones restart the session in the same JVM, which drops every
    # cache and the Python workers. The warm-up follows the last set-up.
    spark = None
    setup, session_s, setup_rows = [], [], []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = start_session(cores)
        session_s.append(time.perf_counter() - t)
        tracer = Tracer(spark.sparkContext, jobs=bool(args.trace))
        with tracer.span("setup", tag_jobs=False) as rec:
            wl.prepare(spark, tracer)
        setup.append(time.perf_counter() - t)
        if args.trace and wl.name == "crawl_polite":
            init = tracer.children(rec)[0]
            groups = span_groups(tracer, init)
            setup_rows.append(
                StageLedger(spark.sparkContext, groups).fold(groups, dur(init)))
    t = time.perf_counter()
    wl.warmup(spark)
    log.update(setup_s_reps=setup, session_s_reps=session_s,
               warmup_s=time.perf_counter() - t)

    before = cpu_jiffies()
    plain = Tracer(spark.sparkContext)
    if args.trace:
        # untraced, traced, untraced: the overhead is the traced iteration
        # minus the mean of the two around it, so a drift across the three
        # (the tail of the warm-up, a host slowing down) cancels out
        tracer = Tracer(spark.sparkContext, jobs=True)
        attempted, failed = 0, 0
        untraced, traced = [], []
        for iter_tracer, out in ((plain, untraced), (tracer, traced), (plain, untraced)):
            done, n, nf = run_iterations(wl, spark, iter_tracer, 1, log)
            out.extend(done)
            attempted, failed = attempted + n, failed + nf
    else:
        with PeakPss() as pss:
            results, attempted, failed = run_iterations(
                wl, spark, plain, timed_iterations(wl, args.seconds), log)
    # cpu time the hypervisor gave to other guests while the timed
    # iterations ran: like the burn, it tells a slow host from a slow commit
    spent = [b - a for a, b in zip(before, cpu_jiffies())]
    log["host_steal_frac"] = spent[7] / max(1, sum(spent[:8]))
    if args.trace:
        untraced_wall = statistics.mean(r["wall_s"] for r in untraced) if untraced else 0.0
        scan = wl.scan(spark, tracer) if hasattr(wl, "scan") else None
        folds = [fold_iteration(wl, spark, tracer, r["span"], scan) for r in traced]
        with open(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
        log["kernels_reference"] = REFERENCE
    spark.stop()
    stop_jvm()

    burn = host_burn()
    log["host_cpu_burn_s"] = burn
    log["failed_frac"] = failed / attempted
    if args.trace:
        kernels = kernels_leg(wl.meta["kernel_sample"])
        log["kernels"] = kernels
        metrics = per_layer(folds, setup_rows, session_s, untraced_wall, kernels, burn)
    else:
        metrics = end_to_end(results, setup, pss.peak_bytes, log["iterations"])
    print(json.dumps(log), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
