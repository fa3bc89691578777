"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds nothing: the engine is the
``data_etl_spark`` package next to this directory, driven from this one
process on ``local[<cpus>]``. A run

1. stamps host health (1-min loadavg, first-touch page-fault rate);
2. writes the workload's inputs from ``--seed`` under ``.perfbench/``;
3. sets up a Spark session three times and prepares the workload once;
4. runs whole timed cycles of the workload until ``--seconds`` have
   passed and the workload's minimum number of cycles ran (closed loop,
   one caller), then the workload's one-off ``finish`` operations;
5. checks the outputs, outside the timed region;
6. prints a detail line, then the result line: the ``end_to_end``
   metrics of BENCHMARK.json untraced (``--trace 0``), or its
   ``per_layer`` metrics from a traced run (``--trace 1``).

Each run is also appended to ``.perfbench/runs.jsonl`` with its host
stamps; a run in a degraded host window is marked ``degraded``.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: set-ups per run; setup_s is their median session build plus the
#: workload's one-time preparation
SESSION_SETUPS = 3
DRIVER_MEM = "2g"
#: status-store retention far above any run's job count, so the traced
#: run loses no job (the default of 1000 evicts during long runs)
RETAIN = 1_000_000
FAULT_PROBE_BYTES = 256 << 20


def load_spec() -> dict:
    """BENCHMARK.json at the checkout root: metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def configure_env(work: str) -> None:
    """Environment for the engine, Spark's JVM and its Python workers;
    must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # importing __spark_entry__ (for the oracle check) must not record
    # query fingerprints
    os.environ["SPARK_GRAFT_WINDOW_READONLY"] = "1"
    # Spark's Python workers import the engine (UDF, mapInPandas and
    # applyInPandas bodies) from the checkout, whatever the cwd
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.ui.retainedJobs={RETAIN}",
            f"--conf spark.ui.retainedStages={RETAIN}",
            f"--conf spark.sql.ui.retainedExecutions={RETAIN}",
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def host_stamp(tag: str) -> dict:
    from _loadgate import fault_probe

    return {
        f"loadavg_{tag}": os.getloadavg()[0],
        f"fault_probe_{tag}": fault_probe(FAULT_PROBE_BYTES),
    }


def degraded(stamps: dict) -> list[str]:
    """Reasons the host window was unhealthy, by the thresholds the repo's
    load gate uses (empty when healthy)."""
    from _loadgate import FAULT_PROBE_MIN_GBS, QUIET_LOAD

    why = []
    if stamps["loadavg_go"] >= QUIET_LOAD:
        why.append(f"loadavg_go {stamps['loadavg_go']:.1f} >= {QUIET_LOAD}")
    for tag in ("go", "end"):
        v = stamps[f"fault_probe_{tag}"]
        if v < FAULT_PROBE_MIN_GBS:
            why.append(f"fault_probe_{tag} {v:.2f} GB/s < {FAULT_PROBE_MIN_GBS}")
    return why


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (Spark's Python worker daemon and its
    workers are children of the JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it and every process it
    started to exit."""
    from pyspark import SparkContext

    proc = jvm_proc()
    below = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    for pid in below:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it, and the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "p50": median(xs)}
    if n >= 11:
        i = n - 11  # the highest sample with ten above it
        out[f"p{int(100 * (i + 1) / n)}"] = xs[i]
    return out


def run(args) -> dict:
    from workloads import WORKLOADS, Recorder

    import layers
    import tracing

    name = args.workload
    work = os.path.join(STATE, f"{name}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    configure_env(work)
    stamps = host_stamp("go")
    # wall time of each phase of the run, for sizing the run budget
    phase_s: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(tag: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phase_s[tag] = now - t_phase
        t_phase = now

    wl = WORKLOADS[name](os.path.join(work, "data"), args.seed)
    wl.inputs()
    phase("inputs")

    # through the module attribute, so the traced run sees the wrapper
    import data_etl_spark.session as session

    tracer = None
    spark = None
    rec = Recorder()
    try:
        session_s = []
        for i in range(SESSION_SETUPS):
            if spark is not None:
                spark.stop()
            if i == 1 and args.trace:
                # the first build launches the JVM; trace the warm ones
                tracer = tracing.Tracer()
                layers.install_hooks(tracer)
                tracer.install()
                rec.tracer = tracer
            t0 = time.perf_counter()
            spark = session.build_session("perfbench")
            spark.range(1).count()
            session_s.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.listen(spark)
        phase("sessions")
        t0 = time.perf_counter()
        wl.prepare(spark, rec)
        prep_s = time.perf_counter() - t0
        phase("prepare")

        window = layers.mark(tracer)
        t_end = time.perf_counter() + args.seconds
        while True:
            c0 = time.perf_counter()
            wl.cycle(spark, rec)
            rec.cycles.append(time.perf_counter() - c0)
            if time.perf_counter() >= t_end and len(rec.cycles) >= wl.min_cycles:
                break
        phase("cycles")
        if hasattr(wl, "finish"):
            wl.finish(spark, rec)
        phase("finish")
        window = (window, layers.mark(tracer))
        if tracer is not None:
            tracer.uninstall()
        wl.check(spark, rec)
        detail = wl.detail(rec)
        phase("check")

        layer = None
        if tracer is not None:
            layer = layers.per_layer(spark, tracer, wl, rec, window, detail)
        proc = jvm_proc()
        rss = {"driver_rss_mb": vm_hwm_mb("self"), "jvm_rss_mb": vm_hwm_mb(proc.pid) if proc else 0.0}
    finally:
        if tracer is not None:
            tracer.uninstall()
        shutdown(spark)
    phase("shutdown")
    stamps.update(host_stamp("end"))

    record = {
        "workload": name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus(),
        **stamps,
        "degraded": degraded(stamps),
        "setup": {"session_s": session_s, "prepare_s": prep_s},
        "phase_s": phase_s,
        "cycles": len(rec.cycles),
        "cycle_s": tail(rec.cycles),
        "ops": {k: tail(v) for k, v in rec.samples.items()},
        "samples": {"cycle": rec.cycles, **rec.samples},
        "detail": detail,
        "peak_rss_mb": rss,
        "attempted": rec.attempted,
        "failures": rec.failures,
    }
    spec = load_spec()
    if layer is not None:
        record["per_layer"] = layer["metrics"]
        record["trace_extra"] = layer["extra"]
        values, wanted = layer["metrics"], spec["per_layer"]
    else:
        values = {
            "setup_s": median(session_s) + prep_s,
            "op_p50_s": wl.op_p50(rec),
            "cycle_p50_s": median(rec.cycles),
        }
        record["end_to_end"] = values
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    failed = len(rec.failures)
    return {
        "record": record,
        "result": {
            "correct": failed == 0 and bool(rec.samples),
            "attempted": max(rec.attempted, 1),
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    engine = os.path.join(ROOT, "data_etl_spark")
    scripts = os.path.join(ROOT, "scripts")
    if not (
        os.path.isdir(engine)
        and os.path.isfile(os.path.join(scripts, "_loadgate.py"))
        and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))
    ):
        print(f"perfbench: no engine under {ROOT} (data_etl_spark/, scripts/, BENCHMARK.json)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, scripts)
    os.chdir(ROOT)
    out = run(args)
    rec = out["record"]
    for f in rec["failures"][:20]:
        print(f"FAILED {f}")
    print(json.dumps({"detail": rec}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
