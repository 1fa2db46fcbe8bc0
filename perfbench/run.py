"""RCA request benchmark.

Runs root-cause-analysis requests the way the CLI's ``run_instance``
does: ``sources.read_rca_csv`` (or ``read_rca_csv_derived``), the
operator through ``cli.run_method``, then
``evaluation.root_cause_postprocessing`` and ``score_root_causes``
against the planted label. Inputs are CSV instance files generated from
``--seed``; every answer is scored and recorded.

    python3 perfbench/run.py --workload small_serial --seed 1 \\
        --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. The line before it gives the details (input checksum,
sample counts, tail percentile, answer digest). See perfbench/README.md
for the workloads and the metric map.
"""
from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 5

sys.path.insert(0, ROOT)

from perfbench import stats, tracing, workloads  # noqa: E402
from perfbench import inputs as inputs_mod  # noqa: E402


@dataclass
class Outcome:
    index: int
    key: str
    latency: float
    preds: list[str] | None
    f1: float


@dataclass
class Loop:
    outcomes: list[Outcome] = field(default_factory=list)
    wall: float = 0.0
    driver_cpu: float = 0.0
    jvm_cpu: float = 0.0
    steal_frac: float = 0.0

    @property
    def succeeded(self) -> list[Outcome]:
        return [o for o in self.outcomes if o.preds is not None]


def configure_environment(run_dir: str) -> None:
    """Keep every file Spark and Python write inside ``run_dir``; size
    the session to this machine unless the caller chose otherwise."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")


def execute(spark, req: workloads.Request, tracer: tracing.Tracer, rid: int):
    """One request: read, run, score (cli.run_instance). Returns
    (predictions, F1)."""
    from riskloc_spark.cli import injection_label, run_method
    from riskloc_spark.evaluation import (
        f1, root_cause_postprocessing, score_root_causes,
    )
    from riskloc_spark.sources import read_rca_csv, read_rca_csv_derived

    inst = req.instance
    with tracer.span("request", rid):
        # read_rca_csv is lazy: this span holds only its header job; the
        # CSV scan runs inside the operator span
        with tracer.span("sources.read", rid, spark=True):
            if inst.derived:
                df, attrs = read_rca_csv_derived(
                    spark, inst.base + ".a.csv", inst.base + ".b.csv"
                )
            else:
                df, attrs = read_rca_csv(spark, inst.base + ".csv")
        with tracer.span(f"operators.{req.algorithm}.call", rid, spark=True):
            root_causes = run_method(df, attrs, req.algorithm, inst.derived, {})
        with tracer.span("evaluation.score", rid):
            label = injection_label(os.path.dirname(inst.base), inst.name)
            preds = root_cause_postprocessing(root_causes, req.algorithm)
            tp, fp, fn, _ = score_root_causes(preds, label)
    return preds, f1(tp, fp, fn)


def timed_loop(spark, passes, clients, tracer, jvm, seconds=0.0) -> Loop:
    """Closed loop over the cyclic request list: each of ``clients``
    threads takes the next request from the list once its previous one
    has returned, so no client idles while another still holds a queue
    of its own. After the first pass another starts only while
    ``seconds`` have not passed, so every run measures whole passes."""
    lock = threading.Lock()
    started: dict[int, bool] = {}
    loop = Loop()
    cursor = itertools.count()

    def take() -> int | None:
        with lock:
            i = next(cursor)
            p = i // len(passes)
            if p not in started:
                started[p] = p == 0 or time.perf_counter() - start < seconds
            return i if started[p] else None

    def client() -> None:
        while (i := take()) is not None:
            req = passes[i % len(passes)]
            t0 = time.perf_counter()
            try:
                preds, f1 = execute(spark, req, tracer, i)
            except Exception:  # a failed request is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                preds, f1 = None, 0.0
            out = Outcome(i, req.key, time.perf_counter() - t0, preds, f1)
            with lock:
                loop.outcomes.append(out)

    cpu0, host0 = tracing.cpu_seconds(jvm), tracing.host_ticks()
    start = time.perf_counter()
    with ThreadPoolExecutor(clients) as pool:
        for fut in [pool.submit(client) for _ in range(clients)]:
            fut.result()
    loop.wall = time.perf_counter() - start
    cpu1, host1 = tracing.cpu_seconds(jvm), tracing.host_ticks()
    loop.driver_cpu, loop.jvm_cpu = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    loop.steal_frac = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
    loop.outcomes.sort(key=lambda o: o.index)
    return loop


def start_session(tracer):
    from riskloc_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench")
    tracer.sc = spark.sparkContext
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit: it exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def set_up(plan, tracer):
    """SETUPS times: (re)start the session and finish one warm-up
    request. The first includes the JVM launch. Returns the session and
    the set-up times."""
    times, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(tracer)
        execute(spark, plan.setup_request, tracing.Tracer(), -1)
        times.append(time.perf_counter() - t0)
    return spark, times


def probe_layers(spark, inst, tracer) -> None:
    """Time the distributed scoring and cuboid layers on a frame past
    the driver bound, called directly through their public functions."""
    from riskloc_spark.functions.scores import (
        add_deviation_score, add_explanatory_power, get_cutoff,
    )
    from riskloc_spark.plans.cuboid import cuboids_of_layer, element_stats_all
    from riskloc_spark.sources import read_rca_csv

    df, attrs = read_rca_csv(spark, inst.base + ".csv")
    with tracer.span("functions.scores.cutoff", spark=True):
        get_cutoff(add_deviation_score(add_explanatory_power(df)))
    with tracer.span("plans.cuboid.element_stats_all", spark=True):
        element_stats_all(df, cuboids_of_layer(attrs, 2)).write.format(
            "noop"
        ).mode("overwrite").save()


def check_answers(loops: list[Loop], content: dict[str, str]) -> tuple[bool, str, list[str]]:
    """Every repeat of a request must return the same root-cause set, in
    this run and in any earlier run that sent the same request (same
    operator, same instance content; kept under .work/answers). The
    small workloads share their first instances for a seed, so their runs
    check each other. ``content`` maps a request key to its instance's
    checksum. Returns (ok, digest of the answers, problems)."""
    answers: dict[str, list[str]] = {}
    problems = []
    for loop in loops:
        for o in loop.succeeded:
            prev = answers.setdefault(o.key, o.preds)
            if prev != o.preds:
                problems.append(f"{o.key}: {prev} then {o.preds} in one run")
    # answers may legitimately differ with the partition count, which
    # follows SPARK_GRAFT_CPUS
    store = os.path.join(WORK, "answers")
    os.makedirs(store, exist_ok=True)
    path = os.path.join(store, f"cpus{os.environ['SPARK_GRAFT_CPUS']}.json")
    earlier = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            earlier = json.load(fh)
    def store_key(key: str) -> str:
        return f"{content[key]}:{key.split(':')[1]}"

    for key, preds in answers.items():
        stored = earlier.get(store_key(key))
        if stored is not None and stored != preds:
            problems.append(f"{key}: {stored} in an earlier run, now {preds}")
    merged = {store_key(k): v for k, v in answers.items()}
    merged.update(earlier)
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(merged, fh, sort_keys=True)
    os.replace(tmp, path)
    digest = hashlib.sha256(
        json.dumps(answers, sort_keys=True).encode()
    ).hexdigest()
    return not problems, digest, problems


def end_to_end(loop: Loop, setups: list[float], rss: float) -> dict:
    """The request latency is summed up by its geometric mean: the median
    of one pass's 11 requests of seven operators jumps between operators
    from run to run (see README.md)."""
    ok = loop.succeeded
    lat = [o.latency for o in ok] or [loop.wall]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "latency_gmean_s": (statistics.geometric_mean(lat), "s"),
        "requests_per_s": (len(ok) / loop.wall, "1/s"),
        "f1_mean": (f1_mean(loop), "ratio"),
        "succeeded_frac": (len(ok) / len(loop.outcomes), "ratio"),
        "peak_rss_mb": (rss, "MiB"),
    }


def f1_mean(loop: Loop) -> float:
    """Mean F1 over the loop's requests; a failed request counts as 0."""
    return statistics.fmean(o.f1 for o in loop.outcomes)


def per_layer(tracer, untraced: Loop, traced: Loop) -> dict:
    """Per-layer metrics: the median self time per call of each layer's
    spans and the mean Spark jobs / tasks per call, from the traced
    loop; process CPU per request from the untraced loop."""
    self_t = tracer.self_times()
    by_name: dict[str, list[tracing.Span]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}

    def add(metric, span_name, value_of, unit):
        spans = by_name.get(span_name)
        if spans:
            out[metric] = (value_of(spans), unit)

    def self_s(spans):
        return statistics.median(self_t[s.id] for s in spans)

    def jobs(spans):
        return statistics.fmean(s.jobs for s in spans)

    def tasks(spans):
        return statistics.fmean(s.tasks for s in spans)

    add("session.get_spark_s", "session.get_spark", self_s, "s")
    add("sources.read_s", "sources.read", self_s, "s")
    add("sources.spark_jobs", "sources.read", jobs, "count")
    for algo in workloads.ALGORITHMS:
        span = f"operators.{algo}.call"
        add(f"{span}_s", span, self_s, "s")
        add(f"operators.{algo}.spark_jobs", span, jobs, "count")
        add(f"operators.{algo}.spark_tasks", span, tasks, "count")
    add("functions.scores.cutoff_s", "functions.scores.cutoff", self_s, "s")
    add("plans.cuboid.element_stats_all_s", "plans.cuboid.element_stats_all",
        self_s, "s")
    n = len(untraced.outcomes)
    out["process.driver_cpu_s_per_request"] = (untraced.driver_cpu / n, "s")
    out["process.jvm_cpu_s_per_request"] = (untraced.jvm_cpu / n, "s")
    # the untraced loop runs after the traced one, in a warmer JVM, so
    # this overstates the tracing cost
    out["trace.overhead_frac"] = (
        (traced.wall / len(traced.outcomes))
        / (untraced.wall / n) - 1.0,
        "ratio",
    )
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SHAPES), default="full",
                   help="instance sizes; 'tiny' is for the self-tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import riskloc_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program next to {HERE}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(riskloc_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: riskloc_spark is imported from "
              f"{riskloc_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload.name}-{args.seed}-", dir=WORK)
    spark = None
    try:
        configure_environment(run_dir)
        t_start = time.perf_counter()
        plan = workloads.build(
            workload, args.seed, os.path.join(run_dir, "inputs"), args.size
        )
        t_inputs = time.perf_counter() - t_start
        checksum = inputs_mod.checksum(plan.input_dir)
        # half the cores: more client threads than that, beside Spark's
        # task threads, measure the scheduler (see README.md)
        clients = max(2, len(os.sched_getaffinity(0)) // 2) if workload.concurrent else 1

        tracer = tracing.Tracer(enabled=bool(args.trace))
        spark, setups = set_up(plan, tracer)
        untraced = tracing.Tracer()
        jvm = tracing.jvm_pid(spark)
        for k, req in enumerate(plan.warmup):
            execute(spark, req, untraced, -2 - k)

        # in a traced run the first loop, whose JVM state matches the
        # untraced runs' timed loop, is the traced one
        loop = timed_loop(spark, plan.passes, clients, tracer, jvm, args.seconds)
        loops = [loop]
        if args.trace:
            # one pass is enough to compare the time per request, and
            # keeps a traced run inside its time limit
            untraced_loop = timed_loop(spark, plan.passes, clients, untraced, jvm)
            loops.append(untraced_loop)
            if workload.distributed:
                probe = plan.passes[0].instance
            else:
                probe = workloads.probe_instance(
                    args.seed, os.path.join(run_dir, "probe"), args.size
                )
            probe_layers(spark, probe, tracer)
            tracer.write(os.path.join(
                WORK, f"trace-{workload.name}-{args.seed}.json"
            ))
            metrics = per_layer(tracer, untraced_loop, loop)
        else:
            metrics = end_to_end(loop, setups, tracing.peak_rss_mb(jvm))

        content = {r.key: inputs_mod.instance_checksum(r.instance)
                   for r in plan.passes}
        ok, digest, problems = check_answers(loops, content)
        for problem in problems:
            print(f"perfbench: answer mismatch: {problem}", file=sys.stderr)
        attempted = sum(len(lp.outcomes) for lp in loops)
        failed = attempted - sum(len(lp.succeeded) for lp in loops)
        lat = [o.latency for o in loop.succeeded]
        tail = stats.highest_tail(lat)
        print(json.dumps({
            "workload": workload.name,
            "seed": args.seed,
            "size": args.size,
            "clients": clients,
            "input_sha256": checksum,
            "answers_sha256": digest,
            "requests_per_pass": len(plan.passes),
            "samples": len(lat),
            "latency_p50_s": statistics.median(lat) if lat else None,
            "latency_tail": (
                {"pct": tail[0], "value_s": tail[1]} if tail
                else f"none: {len(lat)} samples leave fewer than "
                     f"{stats.MIN_BEYOND} beyond p75"
            ),
            "setup_samples_s": setups,
            "timed_loop_steal_frac": loop.steal_frac,
            "phases_s": {
                "inputs": t_inputs,
                "timed_loop": loop.wall,
                "total": time.perf_counter() - t_start,
            },
            "f1_mean": f1_mean(loop),
            "f1": {o.key: o.f1 for o in loop.outcomes},
            "latency_s": [[o.key, o.latency] for o in loop.outcomes],
        }, sort_keys=True))
        print(json.dumps({
            "correct": ok and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
