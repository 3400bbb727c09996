#!/usr/bin/env python3
"""Closed-loop benchmark of the map_reduce_ruby_spark engine.

    python3 perfbench/run.py --workload mr_paths --seed 1 --seconds 16 --trace 0

One client runs one job at a time on ``local[<cores>]``. A workload is a
list of parts (engine paths or catalog entries); one part run is one job,
and a round runs every part once, in an order drawn from ``--seed``. A run:

1. makes a private temp root inside the checkout for ``TMPDIR``,
   ``SPARK_LOCAL_DIRS``, the JVM temp dir and the SQL warehouse (the engine
   builds its persisted stores and streaming drops under the temp dir), and
   deletes it at the end, so no run sees another run's leftovers;
2. sets up cold, from the script's start: imports, the Spark session, inputs
   from ``--seed``, stores, and a first round of verified jobs;
3. warms up for the workload's ``warmup_seconds`` (at least one round);
4. times rounds for ``--seconds`` seconds (at least ``MIN_ROUNDS``): it
   starts another round while that round would end nearer the end of the
   window than the last one did.

Every job's output is checked outside its timer; a failed or wrong job
counts as failed and its time is left out. The last line of standard output
is the result: ``{"correct", "attempted", "failed", "metrics"}``, with the
``end_to_end`` metrics of BENCHMARK.json under ``--trace 0`` and its
``per_layer`` metrics under ``--trace 1``. The line before it holds the run's
details: samples, per-part medians, set-up split, core count and load
average.

End-to-end metrics (``--trace 0``, no spans, no job groups):

- ``setup_s``: script start to the end of the first round of verified jobs;
- ``job_s``: one round, as the sum over parts of the part's median time in
  the timed window;
- ``driver_rss_peak_mb``: peak resident memory of the Python driver during
  the timed window.

``--trace 1`` alternates traced and untraced rounds in the timed window. A
traced round records a span around every call into the package (see
``spans.py``) and reads each span's Spark jobs and stage counters; the
per-layer metrics are medians over traced rounds, and ``trace.overhead_pct``
compares traced with untraced ``job_s``. The spans are written at the end
to ``.perfbench_run/trace-<workload>-<seed>.json``.

``--steadiness`` runs the benchmark as subprocesses, ``STEADY_SETS`` sets of
``STEADY_RUNS`` runs with distinct seeds, and reports for every end-to-end
metric each set's median and quartile spread against the metric's bound,
the drift between set medians, and runs whose timed window still trended
downward.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mr_paths", "catalog_warm")

MIN_ROUNDS = 3
# --trace 1 alternates traced and untraced rounds: at least this many of each
MIN_TRACED_ROUNDS = 2
DRIVER_MEMORY = "2g"
# trend flag: the second half of a run's timed rounds is this much faster
TREND_PCT = -5.0
STEADY_SETS = 2
STEADY_RUNS = 10
STEADY_FIRST_SEED = 101


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="timed window (default: run_seconds of BENCHMARK.json)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true",
                   help=f"run {STEADY_SETS} sets of {STEADY_RUNS} seeded runs "
                        "and report spreads against the bounds")
    return p.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------- isolation


def private_root() -> str:
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)


def isolate(tmp: str) -> None:
    """Point every temp location of the Spark driver, its JVM and the Python
    workers into ``tmp`` (and keep the JVM's perf-data file out of /tmp);
    pin the session's cores and heap."""
    dirs = {name: os.path.join(tmp, name) for name in ("jvm", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    jvm_opts = [f"-Djava.io.tmpdir={dirs['jvm']}", "-XX:-UsePerfData"]
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # engine knobs stay at their defaults
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        # the launcher JVM that spark-submit starts first, then the Spark driver JVM
        SPARK_LAUNCHER_OPTS=" ".join(
            filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), *jvm_opts])
        ),
        SPARK_SUBMIT_OPTS=" ".join(
            filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"), *jvm_opts])
        ),
        PYSPARK_SUBMIT_ARGS=f"--conf spark.sql.warehouse.dir={dirs['warehouse']} pyspark-shell",
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ memory


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- run


class Rounds:
    """Runs rounds of jobs, one job per part of the workload, and checks
    each job outside its timer."""

    def __init__(self, workload, seed: int, null_tracer):
        self.workload = workload
        self.rng = random.Random(seed)
        self.null = null_tracer
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.count = 0

    def __call__(self, tracer=None) -> dict:
        """One round in a seeded order. Returns the seconds of every part
        whose job succeeded with a correct output, and what the checks
        measured for the traced run."""
        tracer = tracer or self.null
        self.count += 1
        order = list(self.workload.parts)
        self.rng.shuffle(order)
        secs: dict[str, float] = {}
        layer: dict[str, float] = {}
        tracer.begin_job(self.count)
        for part in order:
            self.attempted += 1
            try:
                res = self.workload.run_part(part, tracer)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                continue
            t = time.perf_counter()
            problems = self.workload.check(part, res)
            self.check_s += time.perf_counter() - t
            if problems:
                print(f"round {self.count} {part} wrong: {problems}", file=sys.stderr)
                self.failed += 1
                continue
            secs[part] = res["seconds"]
            for k, v in res.get("layer", {}).items():
                layer[k] = layer.get(k, 0.0) + v
        tracer.end_job()
        return {"round": self.count, "parts": secs, "seconds": sum(secs.values()),
                "complete": len(secs) == len(order), "layer": layer}


def round_job_s(rounds: list[dict], parts) -> float:
    """One round's time from many: the sum over parts of each part's median."""
    total = 0.0
    for part in parts:
        times = [r["parts"][part] for r in rounds if part in r["parts"]]
        total += statistics.median(times) if times else float("nan")
    return total


def run(args) -> int:
    from spans import NullTracer, Tracer

    spec = benchmark_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    load_start = os.getloadavg()
    tmp = private_root()
    spark = None
    try:
        isolate(tmp)
        from map_reduce_ruby_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t

        workload = importlib.import_module(args.workload).Workload(spark, args.seed)
        rounds = Rounds(workload, args.seed, NullTracer())
        t = time.perf_counter()
        workload.setup(tmp)
        inputs_s = time.perf_counter() - t
        first = rounds()
        # cold set-up: process start to the end of the first round's jobs,
        # without the time their checks took
        setup_s = time.perf_counter() - T0 - rounds.check_s

        # warm up for warmup_seconds: start a round only if one more round
        # of the last length still ends inside them, and run at least one
        t = time.perf_counter()
        warmup = []
        last = 0.0
        while not warmup or time.perf_counter() - t + last < workload.warmup_seconds:
            res = rounds()
            last = res["seconds"]
            warmup.append(last)
        warmup_s = time.perf_counter() - t

        # timed window: start a round while one more round of the last
        # length would end nearer the end of the window than now, so the
        # window lasts ``seconds`` give or take half a round; run at least
        # min_rounds
        tracer = Tracer(spark) if args.trace else None
        min_rounds = 2 * MIN_TRACED_ROUNDS if args.trace else MIN_ROUNDS
        timed, traced = [], []
        reset_peak_rss()
        steal_start = steal_s()
        start = time.perf_counter()
        n = 0
        last = 0.0
        while time.perf_counter() - start + last / 2 < seconds or n < min_rounds:
            on = tracer is not None and n % 2 == 0
            n += 1
            t = time.perf_counter()
            (traced if on else timed).append(rounds(tracer if on else None))
            last = time.perf_counter() - t
        rss_mb = peak_rss_mb()
        window_s = time.perf_counter() - start
        window_steal_s = steal_s() - steal_start
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    parts = workload.parts
    job_s = round_job_s(timed, parts)
    totals = [r["seconds"] for r in timed if r["complete"]]
    half = len(totals) // 2
    trend_pct = (
        100.0 * (statistics.median(totals[-half:]) / statistics.median(totals[:half]) - 1)
        if half else 0.0
    )
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "rounds": len(timed),
        "samples": {p: sum(p in r["parts"] for r in timed) for p in parts},
        "round_times": totals,
        "parts_median": {p: round_job_s(timed, [p]) for p in parts},
        "session_s": session_s,
        "inputs_s": inputs_s,
        "first_round": first["parts"],
        "warmup_rounds": warmup,
        "window_s": window_s,
        "window_steal_s": window_steal_s,
        "trend_pct": trend_pct,
        "failed_ratio": rounds.failed / rounds.attempted,
        "wall_s": time.perf_counter() - T0,
    }
    if args.trace:
        trace_file = os.path.join(
            os.path.dirname(tmp), f"trace-{args.workload}-{args.seed}.json"
        )
        with open(trace_file, "w", encoding="utf-8") as f:
            json.dump({"details": details, "spans": tracer.spans}, f)
        values = layer_values(tracer, workload, traced)
        values["setup.session_s"] = session_s
        values["setup.inputs_s"] = inputs_s
        values["setup.first_job_s"] = first["seconds"]
        values["setup.warmup_s"] = warmup_s
        traced_s = round_job_s(traced, parts)
        values["trace.overhead_pct"] = 100.0 * (traced_s / job_s - 1)
        wanted = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "job_s": job_s, "driver_rss_peak_mb": rss_mb}
        wanted = spec["end_to_end"]
    print(json.dumps(details))
    print(json.dumps({
        "correct": rounds.failed == 0,
        "attempted": rounds.attempted,
        "failed": rounds.failed,
        "metrics": {
            m["name"]: {"value": finite(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


def finite(v) -> float:
    """A metric value for the result line; a value no job produced (every
    attempt of a part failed, so ``correct`` is false) reads 0."""
    v = float(v)
    return v if v == v else 0.0


# -------------------------------------------------------- per-layer values

_COUNTERS = {
    "spark_jobs": ("jobs", 1),
    "tasks": ("tasks", 1),
    "shuffle_write_mb": ("shuffle_write_bytes", 2**20),
    "spill_mb": ("disk_spill_bytes", 2**20),
    "executor_run_s": ("executor_run_ms", 1000),
    "gc_s": ("gc_ms", 1000),
}


def round_layer_values(spans: list[dict], seconds: float) -> dict[str, float]:
    """One traced round's per-layer values from its spans: each leaf call's
    seconds and Spark counters, the catalog's build/action split, Spark
    totals, and the benchmark's own self time inside the round's jobs."""
    from spans import self_seconds

    parents = {s["parent"] for s in spans}
    selfs = self_seconds(spans)
    out: dict[str, float] = {}

    def put(name, v):
        out[name] = out.get(name, 0.0) + v

    for s in spans:
        dur = s["end"] - s["start"]
        if s["id"] in parents:
            put("bench.self_s", selfs[s["id"]])
            continue
        name = s["name"]
        if name.startswith("plans."):
            entry, phase = name.rsplit(".", 1)
            put(f"{entry}.{phase}_s", dur)
            put(f"plans.{phase}_s", dur)
            put(f"{entry}.spark_jobs", s["spark"]["jobs"])
        else:
            put(f"{name}.s", dur)
            for metric, (counter, scale) in _COUNTERS.items():
                put(f"{name}.{metric}", s["spark"][counter] / scale)
        put("spark.jobs", s["spark"]["jobs"])
        put("spark.tasks", s["spark"]["tasks"])
        put("spark.shuffle_mb", s["spark"]["shuffle_write_bytes"] / 2**20)
        put("spark.executor_run_s", s["spark"]["executor_run_ms"] / 1000)
        put("spark.gc_s", s["spark"]["gc_ms"] / 1000)
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    put("bench.self_s", max(0.0, seconds - top))
    return out


def layer_values(tracer, workload, traced: list[dict]) -> dict[str, float]:
    """Median over the complete traced rounds of every per-layer value."""
    per_round = []
    for res in traced:
        if not res["complete"]:
            continue
        spans = [s for s in tracer.spans if s["job"] == res["round"]]
        vals = round_layer_values(spans, res["seconds"])
        totals: dict[str, dict] = {}
        for s in spans:
            agg = totals.setdefault(s["name"], {})
            for k, v in s.get("spark", {}).items():
                agg[k] = agg.get(k, 0) + v
        vals.update(res["layer"])
        vals.update(workload.derive(totals))
        per_round.append(vals)
    names = {n for vals in per_round for n in vals}
    return {n: statistics.median(v.get(n, 0.0) for v in per_round) for n in names}


# -------------------------------------------------------------- steadiness


def steadiness(args) -> int:
    spec = benchmark_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = []
    for s in range(STEADY_SETS):
        runs = []
        for r in range(STEADY_RUNS):
            seed = STEADY_FIRST_SEED + s * STEADY_RUNS + r
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"run with seed {seed} failed (exit {proc.returncode})")
            details, result = json.loads(lines[-2]), json.loads(lines[-1])
            runs.append({"seed": seed, "wall_s": time.perf_counter() - t,
                         "details": details, "result": result})
            print(json.dumps({"set": s, "seed": seed, "wall_s": round(runs[-1]["wall_s"], 1),
                              "correct": result["correct"],
                              **{k: round(v["value"], 4) for k, v in result["metrics"].items()},
                              "trend_pct": round(details["trend_pct"], 1),
                              "round_times": [round(x, 3) for x in details["round_times"]],
                              "parts": {k: round(v, 3) for k, v in details["parts_median"].items()}}),
                  flush=True)
        sets.append(runs)

    report = {"workload": args.workload, "seconds": seconds, "metrics": {}}
    for name, bound in bounds.items():
        per_set = []
        for runs in sets:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            per_set.append({"median": med, "spread": (q[2] - q[0]) / med})
        drift = per_set[-1]["median"] / per_set[0]["median"] - 1
        report["metrics"][name] = {
            "bound": bound,
            "sets": per_set,
            "spread_within_third_of_bound": all(p["spread"] < bound / 3 for p in per_set),
            "drift": drift,
            "drift_within_bound": abs(drift) <= bound,
        }
    all_runs = [r for runs in sets for r in runs]
    report["all_correct"] = all(r["result"]["correct"] for r in all_runs)
    report["downward_trend_runs"] = [
        r["seed"] for r in all_runs if r["details"]["trend_pct"] < TREND_PCT
    ]
    report["wall_s_max"] = max(r["wall_s"] for r in all_runs)
    report["wall_s_median"] = statistics.median(r["wall_s"] for r in all_runs)
    print(json.dumps(report, indent=1))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.steadiness:
        return steadiness(args)
    if not os.path.isdir(os.path.join(ROOT, "map_reduce_ruby_spark")):
        print(f"no map_reduce_ruby_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
