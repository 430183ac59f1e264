"""The runner shared by every workload: set-up, warm-up, the timed closed
loop, output checks, metrics and the traced run.

A workload object provides ``prepare`` (generate its seeded inputs),
``warmup_ops`` (operations run untimed before timing, from ``cpus``
threads when ``parallel_warmup``), ``round_ops`` (how many operations make
one timed round), ``op_kind`` (the name of an operation's kind: a query, or
the pass), ``layers`` (the layers its operations call), ``run_op`` (one
operation), ``check_op`` (outside the timed region) and ``cleanup_op``.
Whole rounds are timed until ``seconds`` of operation wall time have passed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from iiot_data_engineering_lab_assignment_spark.session import get_spark
from pyspark import SparkContext

from . import iiot, mix
from .tracing import Tracer, layer_totals

WORKLOADS = {iiot.NAME: iiot.IiotNightly, mix.NAME: mix.AnalyticsMix}
#: Every layer that carries span counters, in any workload.
TRACED_LAYERS = ("sources", "streaming", "orchestrator", "lifecycle", "dedup", "registry")
#: Per-layer metric prefixes every traced run measures, whatever the workload.
COMMON_PREFIXES = ("session", "setup", "jvm", "trace", "parallelism")
#: A timed operation during which the hypervisor gave more than this share
#: of the CPUs' time to other guests (steal time) is run again, and its
#: time is left out of the metrics.  Runs of the same code on a quiet host
#: steal under 1%; a run under 20% steal timed its queries 1.7x slower.
STEAL_LIMIT = 0.02
#: Disturbed operations are run again only while the timed loop has run
#: for less than this many times its time budget; after that they count.
RERUN_LIMIT = 1.5


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as f:
        return json.load(f)


def start_session(work: str):
    # java.io.tmpdir keeps the JVM's temporary files under `work`;
    # -XX:-UsePerfData stops it writing /tmp/hsperfdata_<user>.
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def jvm_peak_rss_mb() -> float:
    """VmHWM of the JVM that runs Spark (this process launched it)."""
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPUs' time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, cpus: int, t_start):
    spec = load_spec()
    wl = WORKLOADS[workload](work, seed)
    run_id = f"{workload}-{seed}-{os.getpid()}"

    # --- set-up: session start (launches the JVM), then the seeded inputs
    ts = time.perf_counter()
    spark = start_session(work)
    session_start_s = time.perf_counter() - ts
    tracer = Tracer(spark, run_id, trace)
    tg = time.perf_counter()
    wl.prepare(spark, tracer)
    generate_s = time.perf_counter() - tg
    setup_spans = list(tracer.spans)
    setup_s = time.perf_counter() - t_start

    errors: list[str] = []
    state = {"attempted": 0, "failed": 0}

    def run_op(i: int) -> dict:
        """One operation.  Its ``wall_s`` (the workload's, from its layer
        spans) is what the end-to-end metrics time; ``op_wall_s`` also
        covers the tracer's own work and gives the tracing overhead."""
        t0 = time.perf_counter()
        try:
            with tracer.span("op", str(i)):  # parent of the op's layer spans
                op = wl.run_op(spark, tracer, i)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            op = {
                "wall_s": time.perf_counter() - t0,
                "items": 0,
                "metrics": {},
                "raised": f"op {i} raised {type(e).__name__}: {str(e)[:300]}",
            }
        op["op_wall_s"] = time.perf_counter() - t0
        op["kind"] = wl.op_kind(i)
        return op

    def check(op: dict) -> None:
        """Check one operation's output (outside any timed region) and
        count it as attempted, and as failed if it raised or was wrong."""
        if "raised" in op:
            errs = [op["raised"]]
        else:
            try:
                errs = wl.check_op(spark, op)
            except Exception as e:  # noqa: BLE001
                traceback.print_exc()
                errs = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
            finally:
                wl.cleanup_op(spark, op)
        state["attempted"] += 1
        if errs:
            state["failed"] += 1
            errors.extend(errs)

    # --- warm-up, then its checks, all untimed.  Where the workload allows,
    # the warm-up operations are issued from `cpus` threads, so their cold
    # first runs (JIT, code generation) overlap.
    tracer.enabled = False
    n_warm = wl.warmup_ops()
    tw = time.perf_counter()
    with ThreadPoolExecutor(cpus if wl.parallel_warmup else 1) as pool:
        warm = list(pool.map(run_op, range(n_warm)))
    warmup_s = time.perf_counter() - tw
    for op in warm:
        check(op)

    # --- timed closed loop: one operation after another, in whole rounds,
    # until `seconds` of operation wall time.  A traced run goes on for as
    # long again, and at least until every kind of operation has run twice;
    # it traces half the operations of each kind, the kind's occurrences
    # untraced, traced, traced, untraced, and so on, and reports the traced
    # minus untraced difference as tracing overhead.  That order keeps a
    # steady warm-up drift out of the difference.  An operation disturbed by
    # steal time is run again (``STEAL_LIMIT``) and does not count as a sample.
    per_round = wl.round_ops()
    budget = 2 * seconds if trace else seconds
    ticks0 = cpu_ticks()
    t_loop = time.perf_counter()
    ops: list[dict] = []
    disturbed: list[dict] = []
    seen: Counter = Counter()
    timed = 0.0
    i = n_warm
    while (i - n_warm) % per_round or timed < budget or (
        trace and min(seen.values()) < 2
    ):
        kind = wl.op_kind(i)
        tracer.enabled = trace and seen[kind] % 4 in (1, 2)
        first_span = len(tracer.spans)
        t0 = cpu_ticks()
        op = run_op(i)
        op["steal_share"] = steal_share(t0, cpu_ticks())
        check(op)
        op["traced"] = tracer.enabled
        op["spans"] = tracer.spans[first_span:]
        if (
            op["steal_share"] > STEAL_LIMIT
            and time.perf_counter() - t_loop < RERUN_LIMIT * budget
        ):
            disturbed.append(op)  # counted and checked, not timed; run again
            continue
        seen[kind] += 1
        ops.append(op)
        timed += op["op_wall_s"]
        i += 1
    tracer.enabled = False

    ticks1 = cpu_ticks()
    peak_rss = jvm_peak_rss_mb()
    sc = spark.sparkContext
    parallelism = {
        "cpus": cpus,
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
    }
    stop_jvm(spark)

    attempted, failed = state["attempted"], state["failed"]
    untraced = [op for op in ops if not op["traced"]]
    walls = [op["wall_s"] for op in untraced]
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "parallelism": parallelism,
        "warmup_ops": len(warm),
        "timed_ops": len(ops),
        "untraced_ops": len(untraced),
        "op_walls_ms": [[op["kind"], round(op["wall_s"] * 1e3, 1)] for op in ops],
        # operations run again because the host stole CPU time during them
        "disturbed_ops": [
            [op["kind"], round(op["wall_s"] * 1e3, 1), round(op["steal_share"], 3)]
            for op in disturbed
        ],
        "warmup_s": warmup_s,
        "timed_s": timed,
        # CPU time the hypervisor gave to other guests while timing: a
        # noisy-neighbour flag for outlier runs
        "steal_share": steal_share(ticks0, ticks1),
        "errors": errors[:20],
    }
    if not trace:
        metrics = {
            "setup_s": setup_s + warmup_s,
            "throughput_per_s": sum(op["items"] for op in untraced) / sum(walls),
            "latency_p50_ms": statistics.median(walls) * 1e3,
            "latency_p90_ms": p90(walls) * 1e3,
            "ok_share": 1.0 - failed / attempted,
        }
        wanted = spec["end_to_end"]
    else:
        traced = [op for op in ops if op["traced"]]
        metrics = per_layer(traced, untraced)
        metrics.update(layer_totals(setup_spans, ["sources"]))
        metrics.update(
            {
                "session.start_s": session_start_s,
                "sources.generate_s": generate_s,
                "setup.warmup_s": warmup_s,
                "jvm.peak_rss_mb": peak_rss,
                "parallelism.cpus": float(cpus),
                "parallelism.default_parallelism": float(parallelism["defaultParallelism"]),
            }
        )
        # a layer the workload calls must have been measured; the others'
        # metrics read 0 and are named in the record
        required = (*COMMON_PREFIXES, *wl.layers)
        wanted = spec["per_layer"]
        missing = [m["name"] for m in wanted
                   if m["name"] not in metrics and m["name"].split(".")[0] in required]
        if missing:
            raise RuntimeError(f"traced run measured none of {missing}")
        record["not_measured"] = [m["name"] for m in wanted if m["name"] not in metrics]
        metrics.update(dict.fromkeys(record["not_measured"], 0.0))
        out = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_out")
        span_file = os.path.join(out, f"{workload}-seed{seed}-spans.jsonl")
        tracer.write(span_file)
        record["span_file"] = os.path.relpath(span_file, os.path.dirname(out))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    return record, result


def per_layer(traced: list[dict], untraced: list[dict]) -> dict[str, float]:
    """Medians, each over the operations that report the number: the
    operations' own layer numbers over the untraced operations, the
    per-layer span totals over the traced ones (that called the layer).
    Plus the tracing overhead: per kind of operation, the traced minus the
    untraced median of the whole operation's wall."""
    rows = [op["metrics"] for op in untraced]
    for op in traced:
        called = [l for l in TRACED_LAYERS if any(s["layer"] == l for s in op["spans"])]
        rows.append(layer_totals(op["spans"], called))
    keys = sorted({k for r in rows for k in r})
    out = {k: statistics.median(r[k] for r in rows if k in r) for k in keys}

    diffs, bases = [], []
    for k in {op["kind"] for op in traced} & {op["kind"] for op in untraced}:
        t = statistics.median(op["op_wall_s"] for op in traced if op["kind"] == k)
        u = statistics.median(op["op_wall_s"] for op in untraced if op["kind"] == k)
        diffs.append(t - u)
        bases.append(u)
    if diffs:
        out["trace.overhead_s"] = statistics.mean(diffs)
        out["trace.overhead_share"] = sum(diffs) / sum(bases)
    return out
