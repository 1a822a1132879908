#!/usr/bin/env python3
"""End-to-end benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine from source
(`perfbench/build.py`), generates the workload's input from the seed
(`perfbench/gen.py`, cached per seed under `.bench_build/inputs`), then
launches the engine JVM directly on `local[4]` with a fixed heap ceiling,
every scratch root under one fresh run directory on a private tmpfs. The
JVM side is `perfbench.Harness`: warm-up at sf0.001, one cold pass, then
warm passes, one query at a time in a seeded order, each timed as the
`SparkEntry.queries` build call plus a digest over every output row.

Correctness: every query's output is checked once per (build, input)
against its DuckDB oracle (`perfbench/oracle.py`); every timed digest must
equal that oracle-checked digest, and a mismatch or exception counts as
failed. Workload definitions live in `perfbench/workloads.json`.

Output: human-readable report lines, then as the LAST line one JSON object
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(`--trace 0`) or the per-layer metrics of a traced run (`--trace 1`).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CPUS = 4
HEAP = "3g"
BASE_SEED = 42          # base inputs are fixed; --seed orders their queries
WARM_SF = 0.001
P90_BEYOND = 10         # warm samples that must lie above p90
RUN_DEADLINE_S = 170    # a run's engine JVMs must be done by then
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- inputs

def bench_hash():
    """Hash of the benchmark's Python files: generated inputs and oracle
    verdicts cached under `.bench_build` are keyed by it."""
    return build.source_hash(sorted(glob.glob(os.path.join(HERE, "*.py"))))


def ensure_input(root, kind, sf, seed, k=1):
    """Generate (once) and return (dir, rows, bytes)."""
    inputs = os.path.join(root, ".bench_build", "inputs")
    if kind == "base":
        seed = BASE_SEED
    name = f"base-sf{sf}-s{seed}" if kind == "base" else f"text-sf{sf}-x{k}-s{seed}"
    name += f"-{bench_hash()}"
    out = os.path.join(inputs, name)
    if not os.path.isdir(out):
        t0 = time.monotonic()
        tables = gen.base_tables(sf, seed)
        if kind == "text_scale":
            tables = gen.text_scale(tables, k, seed)
            # keep the most recent few seeded inputs
            old = sorted((p for p in os.listdir(inputs) if p.startswith("text-")),
                         key=lambda p: os.path.getmtime(os.path.join(inputs, p)))
            for p in old[:-3]:
                shutil.rmtree(os.path.join(inputs, p), ignore_errors=True)
        os.makedirs(inputs, exist_ok=True)
        gen.write(tables, out)
        log(f"generated {name} in {time.monotonic() - t0:.1f}s")
    files = [os.path.join(out, f) for f in os.listdir(out)]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out, rows, sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------- machine

def host_state():
    """Steal and load, plus the CPU seconds of a fixed busy loop: on hosts
    whose speed follows their recent load, this tells a slow host from a
    slow engine."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    t0, s = time.process_time(), 0
    for i in range(5_000_000):
        s += i
    return {"jiffies": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0, "load1": load,
            "calib_s": time.process_time() - t0}


# ---------------------------------------------------------------- engine JVM

ROOTS = ("warehouse", "tmp", "ckpt", "scratch", "local")
# Runs the engine in its own mount namespace with a private tmpfs over the
# run's roots directory and another over /dev/shm, sized like the host's
# free /dev/shm so the engine's shmIfRoomy makes the same tmpfs-or-disk
# choice for the stream staging it keeps there. Nothing the engine writes
# outlives the run, or leaves the checkout; the bytes left under both are
# recorded once the JVM and its exit hooks are done. A host that cannot
# mount them gets no result (exit code NO_TMPFS).
NO_TMPFS = 97
TMPFS_WRAPPER = (
    f'mount -t tmpfs -o size=4g,mode=700 perfbench "$0" || exit {NO_TMPFS}; '
    f'mount -t tmpfs -o size="$PERFBENCH_SHM_BYTES" perfbench-shm /dev/shm || exit {NO_TMPFS}; '
    'for r in ' + " ".join(ROOTS) + '; do mkdir -p "$0/$r"; done; '
    '"$@"; rc=$?; '
    'find "$0" /dev/shm -type f -printf "%s\\n" | awk \'{s+=$1} END {print s+0}\' '
    '> "$0/../out/stored_bytes"; '
    'exit $rc')


def shm_free_bytes():
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize
    except OSError:
        return 0


def run_jvm(classes, run_dir, props, timeout_s):
    """Launch the engine JVM with every root under `run_dir/roots`; return
    its set-up time, launch to ready."""
    roots_dir = os.path.join(run_dir, "roots")
    roots = {r: os.path.join(roots_dir, r) for r in ROOTS}
    out = os.path.join(run_dir, "out")
    for p in list(roots.values()) + [out]:
        os.makedirs(p, exist_ok=True)
    props = dict(props, cpus=CPUS, local_dir=roots["local"], checkpoint_root=roots["ckpt"], out=out)
    cfg = os.path.join(run_dir, "harness.properties")
    with open(cfg, "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={str(v)}\n".replace("\\", "\\\\"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # no -Xms, and a collector that sizes the heap by the live data left
    # after each collection (free share between MinHeapFreeRatio and
    # MaxHeapFreeRatio) rather than by measured pause times: resident
    # memory then follows what the engine keeps, not how fast the host ran
    cmd = (["unshare", "--mount", "--propagation", "private", "--",
            "sh", "-c", TMPFS_WRAPPER, roots_dir,
            "java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"] +
           JVM_FLAGS +
           [f"-Djava.io.tmpdir={roots['tmp']}",
            f"-Dspark.sql.warehouse.dir={roots['warehouse']}",
            "-cp", cp, "perfbench.Harness", cfg])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=roots["scratch"],
               PERFBENCH_SHM_BYTES=str(max(1 << 20, shm_free_bytes())))
    ready = None
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                                text=True, start_new_session=True)
        watchdog = threading.Timer(timeout_s, stop, [proc])
        watchdog.start()
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == "PERFBENCH_READY":
                    ready = time.monotonic() - t0
            code = proc.wait()
        except BaseException:
            stop(proc)
            raise
        finally:
            watchdog.cancel()
    if code == NO_TMPFS:
        raise SystemExit("perfbench: cannot mount a private tmpfs for the run's roots "
                         "(needs `unshare --mount` and the right to mount)")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"engine JVM exited with {code}:\n{tail}")
    with open(os.path.join(run_dir, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("[harness] session up"):
                log(line.strip()[len("[harness] "):])
    return ready


def stop(proc):
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        if proc.poll() is not None:
            return
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=wait)
        except subprocess.TimeoutExpired:
            pass


# ---------------------------------------------------------------- metrics

def end_to_end(res, setup_s, gate):
    samples = res["samples"]
    warm = [s for s in samples if s["pass"] > 0]
    walls = {p["pass"]: p["wall_s"] for p in res["passes"]}
    lat = [s["build_s"] + s["action_s"] for s in warm]
    failed = sum(1 for s in samples if failed_sample(s, gate))
    return {
        "setup_s": setup_s,
        "cold_pass_s": walls[0],
        "warm_pass_s": stats.median([w for p, w in walls.items() if p > 0]),
        "query_p50_s": stats.percentile(lat, 0.5),
        "query_p90_s": stats.percentile(lat, 0.9),
        "failed_frac": failed / len(samples),
        "cpu_s": res["cpu_s"],
        "rss_peak_mb": res["rss_peak_mb"],
    }, len(lat), failed


def failed_sample(s, gate):
    g = gate.get(s["query"], {})
    return s["error"] is not None or not g.get("ok") or s["digest"] != g.get("digest")


def per_layer(res, spans):
    traced = [p for p in res["passes"] if p["traced"] and p["pass"] > 0]
    untraced = [p for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    cold = next(p for p in res["passes"] if p["pass"] == 0)["layers"]
    harness_ids = {s["name"]: s["id"] for s in spans if s["layer"] == "harness"}
    pass_ids = [harness_ids[f"pass {p['pass']}"] for p in traced]
    for p, pid in zip(traced, pass_ids):
        busy = stats.job_busy_s(spans, pid)
        p["layers"]["scheduler.job_busy_s"] = busy
        p["layers"]["scheduler.driver_only_s"] = max(0.0, p["wall_s"] - busy)
        p["layers"]["executor.slot_util"] = (
            p["layers"].get("executor.run_s", 0.0) / (busy * CPUS) if busy > 0 else 0.0)
    keys = sorted({k for p in traced for k in p["layers"]})
    out = {k: stats.median([p["layers"].get(k, 0.0) for p in traced]) for k in keys}
    for k in ("warehouse.rebuilds", "warehouse.written_mb"):
        out[k] = cold.get(k, 0.0)
    out.update(res["extra"])
    self_s = stats.self_times(stats.descendants(spans, pass_ids))
    for layer in ("harness", "operators", "catalyst", "scheduler", "executor", "streaming"):
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0) / len(traced)
    out["trace.overhead_s"] = (stats.median([p["wall_s"] for p in traced]) -
                               stats.median([p["wall_s"] for p in untraced]))
    return out


# ---------------------------------------------------------------- main

def main():
    # a terminated run still stops its engine JVM (run_jvm's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    wls = load_workloads()
    if a.workload not in wls:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; one of {sorted(wls)}")
    wl = wls[a.workload]
    queries = wl["queries"]
    spec = wl["input"]
    classes, build_hash = build.build(root)

    inp, in_rows, in_bytes = ensure_input(root, spec["kind"], spec["sf"], a.seed, spec.get("k", 1))
    warm_inp, _, _ = ensure_input(root, "base", WARM_SF, BASE_SEED)
    log(f"input {os.path.basename(inp)}: {in_rows} rows, {in_bytes / 1048576:.1f} MB")

    gate_dir = os.path.join(root, ".bench_build", "gate")
    os.makedirs(gate_dir, exist_ok=True)
    gate_file = os.path.join(gate_dir, f"{a.workload}-{build_hash}-{os.path.basename(inp)}.json")
    gate = None
    if os.path.exists(gate_file):
        with open(gate_file) as fh:
            gate = json.load(fh)
        if set(queries) - set(gate):
            gate = None

    # warm passes: a fixed count per (workload, --seconds), so totals such
    # as cpu_s compare across runs; a traced run makes as many (rounded to
    # an even count), half of them traced, interleaved in ABBA blocks, so
    # it costs no more time than an untraced run
    warm_passes = max(1, round(a.seconds / wl["nominal_pass_s"]))
    if a.trace:
        warm_passes = 2 * max(1, warm_passes // 2)

    runs = os.path.join(root, ".bench_build", "runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    host0 = host_state()
    deadline = time.monotonic() + RUN_DEADLINE_S + (600 if gate is None else 0)
    base = {"queries": ",".join(queries), "input": inp, "warm_input": warm_inp,
            "seed": a.seed, "warm_passes": warm_passes, "trace": a.trace}
    try:
        main_dir = os.path.join(run_dir, "main")
        os.makedirs(main_dir)
        setup_s = run_jvm(classes, main_dir, dict(base, gate=int(gate is None)),
                          deadline - time.monotonic())
        with open(os.path.join(main_dir, "out", "result.json")) as fh:
            res = json.load(fh)
        spans = []
        if a.trace:
            with open(os.path.join(main_dir, "out", "spans.json")) as fh:
                spans = json.load(fh)
            traces = os.path.join(root, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, f"{a.workload}-s{a.seed}.spans.json")
            shutil.copyfile(os.path.join(main_dir, "out", "spans.json"), kept)
            log(f"spans: {len(spans)} written to {os.path.relpath(kept, root)}")
        if gate is None:
            gate = oracle.check(inp, os.path.join(main_dir, "out", "gate"), res["gate"])
            with open(gate_file, "w") as fh:
                json.dump(gate, fh)
        with open(os.path.join(main_dir, "out", "stored_bytes")) as fh:
            stored = int(fh.read().strip() or 0)
        staging = "/dev/shm/graft_ckpt" if shm_free_bytes() >= 8 << 30 else "java.io.tmpdir"
        fs = {"roots": "tmpfs (private mount in the run directory)",
              "stream_staging": f"{staging} on a private tmpfs (engine's shmIfRoomy choice)"}
    finally:
        # the engine's log of the last run of each (workload, trace) stays
        logs = os.path.join(root, ".bench_build", "logs")
        os.makedirs(logs, exist_ok=True)
        try:
            shutil.copyfile(os.path.join(run_dir, "main", "jvm.log"),
                            os.path.join(logs, f"{a.workload}-t{a.trace}.jvm.log"))
        except OSError:
            pass
        shutil.rmtree(run_dir, ignore_errors=True)
    host1 = host_state()

    e2e, n_warm, failed = end_to_end(res, setup_s, gate)
    e2e["stored_mb"] = stored / 1048576
    attempted = len(res["samples"])
    jiffies = max(1, host1["jiffies"] - host0["jiffies"])

    say = lambda s: print(s, flush=True)  # noqa: E731
    say(f"workload {a.workload}: seed {a.seed}, {len(queries)} queries, input "
        f"{os.path.basename(inp)} ({in_rows} rows, {in_bytes / 1048576:.1f} MB), "
        f"{warm_passes} warm passes, local[{CPUS}], heap {HEAP}")
    units = {"failed_frac": "ratio", "rss_peak_mb": "MB", "stored_mb": "MB"}
    need = stats.samples_needed(0.9, P90_BEYOND)
    for k, v in e2e.items():
        extra = f"  (n={n_warm} warm samples)" if k.startswith("query_p") else ""
        if k == "query_p90_s":
            extra += (f", {stats.samples_beyond(n_warm, 0.9)} beyond it; "
                      f"{'meets' if n_warm >= need else 'below'} the {need}-sample rule")
        say(f"  {k:<14} {v:12.4f} {units.get(k, 's')}{extra}")
    bad = {q: g["defect"] for q, g in sorted(gate.items()) if not g["ok"]}
    say(f"  oracle gate: {len(queries) - len(bad)}/{len(queries)} queries match DuckDB")
    for q, why in bad.items():
        say(f"    DEFECT {q}: {why}")
    for s in res["samples"]:
        if failed_sample(s, gate) and gate.get(s["query"], {}).get("ok"):
            say(f"    FAILED pass {s['pass']} {s['query']}: "
                f"{s['error'] or 'digest ' + str(s['digest']) + ' != ' + gate[s['query']]['digest']}")
    by_query = {}
    for s in res["samples"]:
        by_query.setdefault(s["query"], []).append((s["pass"], s["build_s"] + s["action_s"]))
    for q, lat in sorted(by_query.items()):
        say(f"    {q:<28} " + " ".join(f"{v:7.3f}" for _, v in sorted(lat)) + "  s (cold, warm...)")
    for q, e in res["warm_errors"].items():
        say(f"    warm-up error {q}: {e}")
    say("  roots: " + ", ".join(f"{r}={t}" for r, t in fs.items()))
    say(f"  host: load1 {host0['load1']:.2f} -> {host1['load1']:.2f}, steal "
        f"{100.0 * (host1['steal'] - host0['steal']) / jiffies:.2f}% of cpu time during the run, "
        f"busy-loop calibration {host0['calib_s']:.3f} s -> {host1['calib_s']:.3f} s")

    if a.trace:
        layers = per_layer(res, spans)
        layers["run.failed_frac"] = e2e["failed_frac"]
        layers["run.stored_mb"] = e2e["stored_mb"]
        say(f"  tracing overhead: {layers['trace.overhead_s']:+.4f} s per warm pass "
            f"(traced minus untraced median)")
        meta = load_benchmark_units("per_layer")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in meta.items()}
    else:
        meta = load_benchmark_units("end_to_end")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in meta.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def load_benchmark_units(section):
    """{metric: unit} of one section of BENCHMARK.json, the metric list's
    single source."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


if __name__ == "__main__":
    main()
