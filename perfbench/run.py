"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_incremental --seed 1 --seconds 5 --trace 0

Workloads: kg_incremental and corpus_dedup, which BENCHMARK.json gates,
and kg_batch, which is run by hand (see README.md).

Run from the root of a checkout. One Python process, one Spark session on
local[nproc], closed loop with one client: each measured iteration starts
after the previous one has finished. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs one traced iteration (for
kg_batch, after the untraced loop) and prints the per-layer metrics. The
gated workloads measure a JVM-cold pass, with no warm-up. Every metric the
run computed is also printed above the last line as ``name value unit``,
and the whole record (host, settings, input hashes, raw samples, checks,
spans) is written to ``.perfbench_out/results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every output check passed. ``--corrupt`` drops one row from each
engine output before it is compared, to show that the checks fail.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

LAYERS = ("mentions", "linking", "components", "predicates", "graph", "plans", "stream", "dedup")
# the metric names and units the last line carries come from BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
DETAIL_UNITS = {"stream_turns_per_s": "turns/s", "append_samples": "count",
                "failed_frac": "ratio", "host.steal_share": "ratio"}


def pin_environment(run_dir: str) -> dict:
    """Settings fixed for every run; set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    # a quarter of RAM, capped: the engine's 24g default does not fit small hosts
    driver_gib = max(1, min(4, mem_kib // (4 * 1024 * 1024)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": local,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {
        "host": platform.node(),
        "nproc": cpus,
        "mem_total_kib": mem_kib,
        **{k: v for k, v in env.items() if k.startswith(("SPARK", "PYSPARK"))},
    }


def _count_rows(batches):
    import pandas as pd

    yield pd.DataFrame({"n": [sum(len(b) for b in batches)]})


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants: the
    Python workers are forked from one daemon and share its pages, which
    a plain RSS sum would count once per worker."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(l.split()[1]) for l in fh if l.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of the process tree below ``pid``, sampled
    every 100 ms. Given the benchmark's own pid, that is the Python driver,
    the Spark JVM it launched and the Python workers the JVM forks."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, tree_pss_bytes(self.pid))

    def __enter__(self):
        self.peak = tree_pss_bytes(self.pid)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Bench:
    """State one run shares with its workload."""

    def __init__(self, args, run_dir: str, cpus: int):
        self.seed = args.seed
        self.corrupt = args.corrupt
        self.run_dir = run_dir
        self.cpus = cpus
        self.spark = None
        self.tracer = None
        self.inputs: dict = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.cc_inputs: list = []  # (calling span, edges) per connected_components call
        self.cc_edges: dict[str, int] = {}  # edges into connected_components per caller
        self.stage_log: list[tuple[str, bool]] = []
        self.dropped_persisted = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def materialize(self, df, registry: list):
        """At a lazy layer boundary of a traced iteration, persist and
        count, so the work lands in the layer's own span."""
        if self.tracer is None:
            return df
        df = df.persist()
        registry.append(df)
        df.count()
        return df

    def _record(self, name: str, ok: bool, detail: str):
        self.attempted += 1
        self.failed += not ok
        self.checks.append({"check": name, "ok": ok, "detail": detail})
        print(f"[check] {'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)

    def compare(self, name: str, want: set, got: set):
        if self.corrupt and got:
            got = set(got)
            got.discard(min(got))
        missing, extra = len(want - got), len(got - want)
        self._record(name, not missing and not extra and bool(want),
                     f"{len(want)} expected, {missing} missing, {extra} unexpected")

    def compare_values(self, name: str, want, got):
        if self.corrupt:
            got = (got[0] - 1, *got[1:])
        self._record(name, want == got, f"expected {want}, got {got}")

    def clean_state(self):
        """Drop every cached frame and persisted RDD (including local
        checkpoints) a previous iteration left, then assert none remain."""
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
            self.dropped_persisted += 1
        remaining = jsc.getPersistentRDDs().size()
        if remaining:
            raise RuntimeError(f"{remaining} persisted RDDs survive clean-up")


def build(cpus: int, conf: dict):
    from runne_contrastive_ner_spark.session import build_session

    spark = build_session(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # fork the Python workers and import their pandas/arrow stack
    spark.range(cpus * 2).repartition(cpus).mapInPandas(_count_rows, "n long").count()
    return spark


def shutdown(spark) -> None:
    """Stop the session and end the JVM, then wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def measure(bench: Bench, wl, seconds: float) -> tuple[list[dict], int, float]:
    """Closed loop: iterations back to back until ``seconds`` have passed;
    returns the iterations' phases, the peak memory in bytes and the share
    of CPU time the hypervisor stole meanwhile (a noisy-neighbour flag)."""
    its: list[dict] = []
    steal0, total0 = cpu_ticks()
    with RssSampler(os.getpid()) as rss:
        deadline = time.perf_counter() + seconds
        while True:
            bench.clean_state()
            its.append(wl.iteration())
            if time.perf_counter() >= deadline:
                break
    steal1, total1 = cpu_ticks()
    return its, rss.peak, (steal1 - steal0) / max(1, total1 - total0)


def traced_iteration(bench: Bench, wl) -> tuple[dict, tuple[float, float], dict]:
    """One iteration with spans; returns the per-layer metrics, the
    iteration's epoch-ms window (for the event log) and its phases."""
    from kernel import kernel_profile
    from tracing import Tracer, patched
    from workloads import traced_patches
    from runne_contrastive_ner_spark.operators import components as components_mod

    bench.clean_state()
    bench.tracer = Tracer(bench.spark)
    since_ms = time.time() * 1000
    t0 = time.perf_counter()
    with patched(traced_patches(bench)):
        with bench.tracer.span("workload"):
            phases = wl.iteration()
    wall = time.perf_counter() - t0
    window = (since_ms, time.time() * 1000)
    tracer, bench.tracer = bench.tracer, None
    out = {"trace.wall_s": wall}
    selfs = tracer.self_times()
    for layer in LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
        out[f"{layer}.self_share"] = selfs.get(layer, 0.0) / wall
    out["trace.unattributed_share"] = selfs.get("workload", 0.0) / wall
    spans = tracer.durations()
    out.update({f"span.{k}_s": v for k, v in spans.items()})
    out["stream.drain_s"] = spans.get("stream.drain", 0.0)
    out["stream.fold_s"] = spans.get("stream.fold", 0.0)
    for caller, edges in bench.cc_inputs:
        bench.cc_edges[caller] = bench.cc_edges.get(caller, 0) + edges.count()
    out.update(wl.layer_counts())
    out["components.edges"] = sum(bench.cc_edges.values())
    out["components.rounds"] = components_mod.LAST_DISTRIBUTED_ROUNDS or 0
    out["stage.attempted"] = len(bench.stage_log)
    out["stage.recomputed"] = sum(built for _, built in bench.stage_log)
    texts, gazetteer = wl.kernel_texts()
    rng = random.Random(bench.seed + 53)
    out.update(kernel_profile(rng.sample(texts, min(300, len(texts))), gazetteer))
    kernel_s = out["kernel.total_us_per_turn"] * 1e-6
    turns = out.pop("mentions.turns", 0)
    mentions_s = out["mentions.self_s"]
    out["mentions.kernel_share"] = (
        kernel_s * turns / bench.cpus / mentions_s if mentions_s else 0.0
    )
    tracer.dump(os.path.join(OUT, "results", f"spans-{wl.name}-seed{bench.seed}.jsonl"))
    return out, window, phases


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    sys.path.insert(1, ROOT)
    # engine imports first: without the engine there is no result to print
    from tracing import event_log_bytes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = pin_environment(run_dir)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    cpus = settings["nproc"]
    bench = Bench(args, run_dir, cpus)
    detail: dict = {}
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    event_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    try:
        with contextlib.redirect_stdout(sys.stderr):  # engine progress lines
            phase = time.perf_counter()

            def lap(name):
                nonlocal phase
                now = time.perf_counter()
                detail[f"phase.{name}_s"] = now - phase
                phase = now

            bench.spark = build(cpus, conf)
            lap("setup")
            wl = WORKLOADS[args.workload](bench)
            n_rows = wl.prepare()
            lap("prepare")
            wl.warm()
            lap("warm")
            detail["setup_s"] = detail["phase.setup_s"]
            its = []
            # a cold workload's untraced pass is what a --trace 0 run of the
            # same seed measures; after it, a traced pass would run warm
            if not (args.trace and wl.cold):
                its, peak, detail["host.steal_share"] = measure(bench, wl, args.seconds)
                lap("measure")
                detail["peak_rss_mb"] = peak / 2**20
            if args.trace:
                layer, window, phases = traced_iteration(bench, wl)
                lap("trace")
                if its:
                    layer["trace.untraced_wall_s"] = wl.summary(its)["wall_s"]
                    layer["trace.overhead_s"] = layer["trace.wall_s"] - layer["trace.untraced_wall_s"]
                else:
                    its = [phases]
            detail.update(wl.summary(its))
            wl.check()
            lap("check")
            shutdown(bench.spark)
        if args.trace:
            spark_bytes = event_log_bytes(event_dir, *window)
            for lyr in LAYERS:
                for k in ("shuffle_write_bytes", "spill_bytes"):
                    layer[f"spark.{lyr}.{k}"] = spark_bytes.get(lyr, {}).get(k, 0)
            detail.update(layer)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail["failed_frac"] = bench.failed / max(1, bench.attempted)
    correct = bench.failed == 0 and all(c["ok"] for c in bench.checks)
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": detail.get(k, 0), "unit": u} for k, u in wanted.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "inputs": bench.inputs,
        "input_rows": n_rows, "iterations": its,
        "dropped_persisted_rdds": bench.dropped_persisted, "checks": bench.checks,
        "detail": detail,
    }
    path = os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    units = {**END_TO_END, **PER_LAYER, **DETAIL_UNITS}
    for k in sorted(detail):
        v = detail[k]
        if isinstance(v, (int, float)):
            print(f"{k} {v} {units.get(k, 's' if k.endswith('_s') else '')}".rstrip())
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
