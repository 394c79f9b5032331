"""Benchmark of the KG pipeline, run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_flagship --seed 1 --seconds 10 --trace 0

One run, in one process at local[<cores>]:

1. set-up: start the engine's Spark session, generate the workload's inputs
   from --seed (three times, into fresh directories; the median counts),
   and run one untimed warm-up repetition;
2. repetitions for --seconds seconds. Each one is cold: afterwards the
   benchmark counts the RDDs the engine left persisted, then clears the
   catalog cache and unpersists every RDD from outside;
3. with --trace 1, one more repetition with a span around every call into
   a layer (see spans.py), folded with Spark's event log;
4. the output checks (see workloads.py), outside the timed region.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, and `metrics` -- the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Scratch files live under
.perfbench_work/ in the checkout; only the span JSON of traced runs is kept.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE = "eva_opentargets_spark"
N_SETUP = 3  # input generations per run; setup_s takes their median

SPANS = [
    "sources.transcripts",
    "operators.mentions.extract",
    "operators.mentions.distinct",
    "operators.linking.cascade",
    "operators.linking.fuzzy_candidates",
    "operators.triples.emit",
    "pipeline.compute_metrics",
    "operators.curation",
    "plans.checkpoint.wave",
]
SPAN_FIELDS = {
    "s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_rows": "rows",
}
COUNTERS = {
    "operators.mentions.occurrences": "count",
    "operators.mentions.distinct.rows": "count",
    "operators.mentions.distinct.dedup_ratio": "ratio",
    "operators.linking.candidates": "count",
    "operators.linking.candidates_per_mention": "ratio",
    "operators.linking.fuzzy_accept_ratio": "ratio",
    "operators.linking.links.exact": "count",
    "operators.linking.links.normalized": "count",
    "operators.linking.links.fuzzy": "count",
    "operators.linking.links.xref": "count",
    "operators.linking.links.replacement": "count",
    "operators.linking.unresolved": "count",
    "operators.triples.rows": "count",
    "plans.checkpoint.bytes_written": "bytes",
    "plans.checkpoint.files_written": "count",
    "session.cached_rdds_left": "count",
    "session.gc_s": "s",
    "session.failed_tasks": "count",
    "session.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "turns_per_s": "1/s"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    units = {f"{span}.{f}": u for span in SPANS for f, u in SPAN_FIELDS.items()}
    units.update(COUNTERS)
    return units


def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return tree


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc while armed."""

    PERIOD_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self.armed = threading.Event()
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.page
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self.done.wait(self.PERIOD_S):
            if self.armed.is_set():
                self.peak_bytes = max(self.peak_bytes, self.tree_rss())

    def stop(self) -> None:
        self.done.set()
        self.join(timeout=5)


def launch_env(work: str, trace: bool) -> None:
    """Environment for the Spark launch: every scratch file inside `work`,
    and the event log switched on at launch for traced runs."""
    for d in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    args = [
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def release_caches(spark) -> int:
    """Number of RDDs still persisted once the workload dropped its handles;
    then clear the catalog cache and unpersist every RDD."""
    gc.collect()
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return left


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_children(timeout: float = 20.0) -> None:
    import signal

    deadline = time.time() + timeout
    while time.time() < deadline:
        rest = process_tree(os.getpid())[1:]
        if not rest:
            return
        time.sleep(0.2)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def rep_dir(work: str, i) -> str:
    return os.path.join(work, "out", f"rep-{i}")


def run_reps(spark, wl, work: str, seconds: float, sampler: RssSampler) -> dict:
    walls, cached_left, errors = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    sampler.armed.set()
    while i == 0 or time.perf_counter() < deadline:
        out = rep_dir(work, i)
        t0 = time.perf_counter()
        try:
            wl.run_once(spark, out)
            walls.append(time.perf_counter() - t0)
        except Exception:
            errors.append(traceback.format_exc())
        cached_left.append(release_caches(spark))
        if i > 0:
            shutil.rmtree(rep_dir(work, i - 1), ignore_errors=True)
        i += 1
    sampler.armed.clear()
    shutil.rmtree(rep_dir(work, i - 1), ignore_errors=True)
    return {"walls": walls, "cached_left": cached_left, "errors": errors,
            "peak_rss_mb": sampler.peak_bytes / 2**20}


def traced_rep(spark, wl, work: str) -> dict:
    from pyspark.sql import functions as F

    from eva_opentargets_spark import job, pipeline
    from eva_opentargets_spark.operators import fuzzy_udf, linking
    from eva_opentargets_spark.sources import transcripts
    from spans import Tracer

    tracer = Tracer(spark)
    links_only = lambda out: out[0]  # noqa: E731 - the cascade's lazy remainder stays lazy
    tracer.patch(transcripts, "derive_transcripts", "sources.transcripts")
    tracer.patch(job, "read_transcripts", "sources.transcripts")
    tracer.patch(pipeline, "extract_turn_mentions", "operators.mentions.extract")
    tracer.patch(pipeline, "distinct_mentions", "operators.mentions.distinct")
    tracer.patch(pipeline, "link_cascade", "operators.linking.cascade", links_only)
    tracer.patch(job, "link_cascade", "operators.linking.cascade", links_only)
    tracer.patch(linking, "fuzzy_candidates", "operators.linking.fuzzy_candidates")
    tracer.patch(fuzzy_udf, "fuzzy_candidates_arrow", "operators.linking.fuzzy_candidates")
    tracer.patch(pipeline, "emit_triples", "operators.triples.emit")
    tracer.patch(job, "compute_metrics", "pipeline.compute_metrics")
    tracer.patch(job, "curation_table", "operators.curation")
    tracer.patch_waves(job, "run_waves", "plans.checkpoint.wave")
    out = rep_dir(work, "traced")
    t0 = time.perf_counter()
    try:
        wl.run_once(spark, out)
        wall = time.perf_counter() - t0
    finally:
        tracer.unpatch()

    # counters, read off the outputs the tracer kept (after the clock stopped)
    c: dict[str, float] = dict.fromkeys(COUNTERS, 0)
    for dm in tracer.outputs["operators.mentions.distinct"]:
        c["operators.mentions.occurrences"] += dm.agg(F.sum("occurrences")).first()[0] or 0
    by_name = {s: sum(r["rows"] for r in tracer.spans if r["name"] == s) for s in SPANS}
    c["operators.mentions.distinct.rows"] = by_name["operators.mentions.distinct"]
    c["operators.linking.candidates"] = by_name["operators.linking.fuzzy_candidates"]
    c["operators.triples.rows"] = by_name["operators.triples.emit"]
    for links, _, unresolved in tracer.outputs["operators.linking.cascade"]:
        for row in links.groupBy("match_type").agg(F.count("*").alias("n")).collect():
            key = f"operators.linking.links.{row['match_type']}"
            if key in c:
                c[key] += row["n"]
        c["operators.linking.unresolved"] += unresolved.count()
    fuzzy_in = tracer.input_rows["operators.linking.fuzzy_candidates"]
    cands = c["operators.linking.candidates"]
    c["operators.linking.candidates_per_mention"] = cands / fuzzy_in if fuzzy_in else 0
    # fuzzy is the first tier of the precedence window, so every accepted
    # candidate link survives into `links`
    c["operators.linking.fuzzy_accept_ratio"] = (
        c["operators.linking.links.fuzzy"] / cands if cands else 0
    )
    occ = c["operators.mentions.occurrences"]
    c["operators.mentions.distinct.dedup_ratio"] = (
        c["operators.mentions.distinct.rows"] / occ if occ else 0
    )
    bytes_written, files_written = wl.written(out)
    c["plans.checkpoint.bytes_written"] = bytes_written
    c["plans.checkpoint.files_written"] = files_written
    tracer.outputs.clear()
    release_caches(spark)
    shutil.rmtree(out, ignore_errors=True)
    return {"tracer": tracer, "wall": wall, "t0": t0, "counters": c}


def layer_metrics(traced: dict, folded: dict, reps: dict) -> dict:
    tracer = traced["tracer"]
    names = tracer.by_name(folded)
    units = per_layer_units()
    m = {}
    for span in SPANS:
        agg = names.get(span, {})
        for field in SPAN_FIELDS:
            m[f"{span}.{field}"] = float(agg.get(field, 0))
    m.update(traced["counters"])
    groups = {s["id"] for s in tracer.spans} | {"trace.other"}
    m["session.gc_s"] = sum(v["gc_s"] for g, v in folded.items() if g in groups)
    m["session.failed_tasks"] = sum(v["failed_tasks"] for g, v in folded.items() if g in groups)
    m["session.cached_rdds_left"] = reps["cached_left"][-1]
    m["session.peak_rss_mb"] = reps["peak_rss_mb"]
    m["trace.wall_s"] = traced["wall"]
    m["trace.overhead_s"] = traced["wall"] - statistics.median(reps["walls"])
    m["trace.unattributed_s"] = traced["wall"] - tracer.top_level_s()
    return {k: {"value": m[k], "unit": units[k]} for k in units}


def print_layer_table(metrics: dict) -> None:
    print(f"{'span':40s} {'self s':>8s} {'jobs':>5s} {'tasks':>6s} {'cpu s':>8s} "
          f"{'shuffle B':>11s} {'spill B':>9s} {'py rows':>8s}")
    for span in SPANS:
        v = [metrics[f"{span}.{f}"]["value"] for f in SPAN_FIELDS]
        print(f"{span:40s} {v[0]:8.3f} {v[1]:5.0f} {v[2]:6.0f} {v[3]:8.3f} "
              f"{v[4]:11.0f} {v[5]:9.0f} {v[6]:8.0f}")
    for k in COUNTERS:
        print(f"{k:48s} {metrics[k]['value']:.6g} {metrics[k]['unit']}")


def main(argv=None) -> int:
    proc_t0 = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    launch_env(work, bool(args.trace))
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from eva_opentargets_spark.session import get_spark

        n = cores()
        spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n)
        launch_s = time.time() - proc_t0
        log(f"session up after {launch_s:.1f} s")

        wl = WORKLOADS[args.workload]()
        gen_s, digests = [], set()
        for i in range(N_SETUP):
            t0 = time.perf_counter()
            wl.prepare(args.seed, os.path.join(work, f"input-{i}"))
            gen_s.append(time.perf_counter() - t0)
            digests.add(wl.digest)
            if i:
                shutil.rmtree(os.path.join(work, f"input-{i - 1}"))
        if len(digests) != 1:
            raise RuntimeError(f"seed {args.seed} generated different inputs: {digests}")
        print(f"input digest {wl.name} seed {args.seed}: {wl.digest} ({wl.turns} turns)",
              flush=True)
        log(f"inputs generated in {', '.join(f'{g:.2f}' for g in gen_s)} s")
        checked = rep_dir(work, "warmup")
        t0 = time.perf_counter()
        wl.run_once(spark, checked, keep=True)
        warmup_s = time.perf_counter() - t0
        release_caches(spark)
        setup_s = launch_s + statistics.median(gen_s) + warmup_s
        log(f"warm-up repetition {warmup_s:.2f} s")

        reps = run_reps(spark, wl, work, args.seconds, sampler)
        log(f"{len(reps['walls'])} repetitions: {', '.join(f'{w:.2f}' for w in reps['walls'])} s")
        traced = traced_rep(spark, wl, work) if args.trace else None

        try:
            problems = wl.check(checked)
        except Exception:
            problems = ["check raised:\n" + traceback.format_exc()]
    except Exception:
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        return 1

    stop_spark(spark)
    sampler.stop()
    reap_children()
    for e in reps["errors"]:
        print(f"repetition failed:\n{e}", file=sys.stderr)
    for p in problems:
        print(f"output check failed: {p}", file=sys.stderr)

    if not reps["walls"]:
        log("no repetition succeeded; nothing to report")
        return 1
    attempted = len(reps["walls"]) + len(reps["errors"]) + 1
    failed = len(reps["errors"]) + (1 if problems else 0)
    wall = statistics.median(reps["walls"])
    if traced is None:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "turns_per_s": wl.turns / wall,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    else:
        from eventlog import fold, read_events

        folded = fold(read_events(os.path.join(work, "eventlog")))
        metrics = layer_metrics(traced, folded, reps)
        print_layer_table(metrics)
        span_path = os.path.join(base, f"trace-{args.workload}-s{args.seed}.json")
        with open(span_path, "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "input_digest": wl.digest,
                    "untraced_wall_s": wall,
                    "traced_wall_s": traced["wall"],
                    "spans": traced["tracer"].to_json(traced["t0"]),
                    "job_groups": folded,
                },
                fh,
                indent=1,
            )
        print(f"spans written to {os.path.relpath(span_path, ROOT)}")
    print(f"repetitions: {len(reps['walls'])}, wall_s each: "
          + ", ".join(f"{w:.3f}" for w in reps["walls"]))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
