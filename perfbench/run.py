#!/usr/bin/env python3
"""Benchmark of the candy-store pipeline and the heavy query set.

Usage:
  python3 perfbench/run.py --workload <candy_small|queries_heavy> --seed <n>
                           --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's own Scala package (perfbench/build.sbt) with sbt, offline, into
the checkout; later runs reuse that build. Everything the benchmark writes
goes under `$CARGO_TARGET_DIR` (default `.bench_build`) in the checkout.

One run: set up SETUPS times (make the inputs and reference answers, start
the measurement session) and keep the median; warm up; time units of
work until `--seconds` have passed and at least `min_units` ran; check every
unit's output. With `--trace 0` it reports the end-to-end metrics, with
`--trace 1` it interleaves untraced and traced units and reports the
per-layer metrics, including the tracing overhead. The last line of standard
output is the result; the line before it is the full record (every sample,
hashes of the inputs, per-unit Spark totals).
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_candy  # noqa: E402

# Three operator families of ROADMAP Direction 3's heavy set, sized so that
# a collecting pass, two warm-up passes and three timed passes fit one run
# (see layers.json).
QUERIES = ["q150_curation_pipeline", "q82_semdedup_survivors", "q76_pagerank"]

# Why each workload, and its size, is recorded in BENCHMARK.json and layers.json.
WORKLOADS = {
    "candy_small": {"kind": "candy", "days": 10, "tx_per_day": 1000, "zipf": 0.5,
                    "warmups": 2, "min_units": 3},
    "queries_heavy": {"kind": "queries", "tables": os.path.join(HERE, "data", "sf0.001"),
                      "warmups": 2, "min_units": 3},
}

CANDY_LAYERS = [
    "source.s", "source.task_cpu_s", "source.input_mb", "source.tasks",
    "allocate.s", "allocate.task_cpu_s", "allocate.shuffle_mb", "allocate.skew",
    "allocate.fill_ratio",
    "reports.s", "reports.task_cpu_s", "reports.shuffle_mb",
    "sink.s", "sink.mb_written", "sink.order_line_items.s", "sink.orders.s",
    "forecast.s"]
SPARK_LAYERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
                "spark.planning_s", "spark.idle_s", "spark.gc_s"]
QUERY_LAYERS = [f"q.{q.split('_')[0]}.{m}" for q in QUERIES for m in ("s", "jobs", "task_cpu_s")]
PER_LAYER = CANDY_LAYERS + SPARK_LAYERS + QUERY_LAYERS + ["host.steal_s", "trace.overhead_s"]
E2E_UNITS = {"run_s": "s", "peak_heap_mb": "MB", "setup_s": "s"}
JVM_HEAP = "2g"
SETUPS = 3
RUN_TIMEOUT_S = 150


def unit_of(name):
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb_written"):
        return "MB"
    if name.endswith(("skew", "ratio")):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_waited(cmd, timeout, what, **kw):
    """Run `cmd` in its own process group; on timeout, or when this script
    is told to stop, kill the whole group and wait for it, so nothing the
    benchmark started outlives it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} did not finish in {timeout} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build(bdir):
    """Compile the program and the benchmark once per checkout."""
    launch = os.path.join(bdir, "launch")
    if os.path.exists(os.path.join(launch, "javaopts.txt")):
        return launch
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "gen_candy_golden.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_LAUNCH_DIR=launch,
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        f" -Djava.io.tmpdir={tmp} -Xmx2g")
    with open(os.path.join(bdir, "build.log"), "w") as log:
        code = run_waited(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], 600,
                          "the build", cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"build failed, see {os.path.join(bdir, 'build.log')}")
    return launch


def prepare_candy(spec, seed, wdir):
    """Generate the inputs and replay the reference answers SETUPS times
    from the same seed. Returns (seconds per set-up, facts)."""
    times, digests, lines = [], set(), 0
    for i in range(SETUPS):
        data, gold = os.path.join(wdir, f"input{i}"), os.path.join(wdir, f"golden{i}")
        os.makedirs(gold)
        t0 = time.perf_counter()
        lines = gen_candy.generate(data, seed, spec["days"], spec["tx_per_day"], spec["zipf"])
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_candy_golden.py"),
                            data, gold], capture_output=True, text=True)
        times.append(time.perf_counter() - t0)
        if r.returncode != 0:
            fail(f"reference replay failed: {r.stderr.strip()}")
        digests.add(gen_candy.digest(data))
        replay = dict(kv.split("=") for kv in r.stdout.split())
    if len(digests) != 1:
        fail("the generator gave different bytes for the same seed")
    return times, {"input_sha256": digests.pop(), "order_lines": lines,
                   "replay": {k: int(v) for k, v in replay.items()}}


def prepare_queries(spec, seed):
    times, digest = [], None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        digest = gen_candy.digest(spec["tables"])
        times.append(time.perf_counter() - t0)
    order = QUERIES[:]
    random.Random(seed).shuffle(order)
    return times, {"tables_sha256": digest, "order": order}


def run_jvm(launch, bdir, wdir, args):
    with open(os.path.join(launch, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(launch, "javaopts.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o and not o.startswith(("-Xmx", "-Xms"))]
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK_"))}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + opts + [f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
                              "-cp", cp, "perfbench.PerfMain"] + args)
    with open(os.path.join(wdir, "jvm.log"), "w") as log:
        code = run_waited(cmd, RUN_TIMEOUT_S, "the measurement JVM",
                          cwd=wdir, env=env, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"the measurement JVM exited with {code}, see {os.path.join(wdir, 'jvm.log')}")


def oracle_gate(tables, tables_sha256, wdir, bdir):
    """DuckDB answers are cached per oracle text, so only the first run in a
    checkout pays for parsing the large inlined codebooks."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "oracle_check.py"), tables,
                        os.path.join(wdir, "verify"), os.path.join(bdir, "oracle_cache"),
                        tables_sha256],
                       capture_output=True, text=True, cwd=wdir)
    if r.returncode != 0:
        fail(f"oracle check failed to run: {r.stderr.strip()[-400:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def price(units, kind):
    """run_s of some units: a query pass is priced by each query's median,
    so one slow query in one pass does not move the whole pass."""
    if kind == "queries":
        return sum(median([u["parts"][p] for u in units]) for p in units[0]["parts"])
    return median([u["s"] for u in units])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; choose from {sorted(WORKLOADS)}")
    spec = WORKLOADS[a.workload]

    bdir = build_dir()
    launch = build(bdir)
    wdir = os.path.join(bdir, "work", a.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(os.path.join(wdir, "verify"))

    args = ["--workload", a.workload, "--work", wdir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--warmups", str(spec["warmups"]), "--setups", str(SETUPS),
            "--min-units", str(spec["min_units"]), "--result", os.path.join(wdir, "result.json")]
    if spec["kind"] == "candy":
        prep_s, facts = prepare_candy(spec, a.seed, wdir)
        last = gen_candy.START.toordinal() + spec["days"] - 1
        args += ["--data", os.path.join(wdir, "input0"),
                 "--golden", os.path.join(wdir, "golden0"),
                 "--start", str(gen_candy.START), "--end", str(gen_candy.START.fromordinal(last))]
    else:
        prep_s, facts = prepare_queries(spec, a.seed)
        args += ["--data", spec["tables"], "--queries", ",".join(facts["order"])]

    run_jvm(launch, bdir, wdir, args)
    with open(os.path.join(wdir, "result.json")) as fh:
        res = json.load(fh)
    units = res["units"]

    wrong = {}
    if spec["kind"] == "queries":
        wrong = {q: v for q, v in oracle_gate(spec["tables"], facts["tables_sha256"], wdir, bdir).items() if v}
    failed = sum(1 for u in units if not u["ok"] or wrong)
    plain = [u for u in units if not u["traced"] and u["ok"] and not wrong]
    traced = [u for u in units if u["traced"] and u["ok"] and not wrong]
    unit_s = [u["s"] for u in plain]
    parts = {p: median([u["parts"][p] for u in plain]) for p in (plain[0]["parts"] if plain else {})}
    run_s = price(plain, spec["kind"]) if plain else 0.0
    if spec["kind"] == "candy":
        work_per_unit = facts["order_lines"]
    else:  # input rows the queries read in one pass
        work_per_unit = median([u["unit"]["input_records"] for u in plain])
    setups = [p + s for p, s in zip(prep_s, res["session_s"])]

    end_to_end = {
        "run_s": run_s,
        "peak_heap_mb": res["peak_heap_mb"],
        "setup_s": median(setups),
    }
    layer = {m: 0.0 for m in PER_LAYER}
    for m in SPARK_LAYERS:
        layer[m] = median([u["unit"][m] for u in plain])
    for m in CANDY_LAYERS + QUERY_LAYERS:
        vals = [u["layer"][m] for u in traced if m in u["layer"]]
        if vals:
            layer[m] = median(vals)
    layer["host.steal_s"] = res["steal_s"]
    if traced:
        layer["trace.overhead_s"] = price(traced, spec["kind"]) - run_s

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cpus": res["cpus"],
        "units": len(units), "run_s_samples": len(unit_s), "run_s_all": unit_s,
        # too few samples for a percentile below the top: the slowest unit
        "run_s_max": max(unit_s, default=None),
        "error_rate": failed / max(1, len(units)), "wrong_queries": wrong,
        # run_s over a per-seed constant: reported, not gated (see layers.json)
        "lines_per_s": work_per_unit / run_s if run_s else 0.0,
        "part_s": parts, "steal_s": res["steal_s"],
        "unit_totals": {k: median([u["unit"][k] for u in plain])
                        for k in (plain[0]["unit"] if plain else {})},
        "setup_s_all": setups, "cold_session_s": res["session_s"][0],
        "prepare_s": res["prepare_s"], "warmup_s": res["warmup_s"], "window_s": res["window_s"],
        "spans": os.path.join(wdir, "spans.jsonl"), **facts,
    }
    metrics = layer if a.trace else end_to_end
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0 and len(plain) > 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k) if a.trace else E2E_UNITS[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
