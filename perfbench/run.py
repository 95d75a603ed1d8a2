"""Benchmark of the conversion engine's public job entry points.

Usage (from the repository root)::

    python3 perfbench/run.py --workload convert_job --seed 1 --seconds 22 --trace 0

One run sets up a local Spark session with one executor thread per CPU
(``local[nproc]``), generates the workload's inputs from ``--seed`` and
writes them under ``.perfbench_work/`` in the repository root, then makes
one checked call at a time (a closed loop with one client, no extra
threads or processes beyond Spark's own) for ``--seconds`` seconds.  All
figures are medians of the current run; nothing is merged with earlier
records.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a
separate run that reports the per-layer metrics: Spark job/stage/task
counters per call read from the status stores, a layer ledger of each
traced call, the per-step single-process fold of the registry over the
workload's exact text runs, and the workload's own layer timings.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines above it
give the same figures for a reader, plus sample counts, spread and the
pinned run configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3
MIN_CALLS = 3
TRACE_CALLS = 4  # at least, alternating untraced and traced
SETTLE_S = 1.0  # idle time after each call of the traced run
DRIVER_MEMORY = "2g"
# Heap sizing that does not depend on timing: G1 grows the heap, sizes
# the young generation and starts marking cycles by how long its pauses
# took, which made the JVM's resident size differ by up to 50% between
# identical runs.  With the heap's size, its young generation and the
# marking threshold fixed, the resident size follows what the job
# allocates and keeps alive.  The heap is not pre-touched.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn384m -XX:-G1UseAdaptiveIHOP"

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("docs_per_s", "1/s", "higher"),
    ("chars_per_s", "chars/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_JOB_LAYER = [
    ("job.spark_jobs", "count", "lower"),
    ("job.stages", "count", "lower"),
    ("job.tasks", "count", "lower"),
    ("job.python_stage_busy_s", "s", "lower"),
    ("job.python_run_s", "s", "lower"),
    ("job.python_sent_bytes", "bytes", "lower"),
    ("job.python_returned_bytes", "bytes", "lower"),
    ("job.task_max_over_p50", "ratio", "lower"),
    ("job.shuffle_write_bytes", "bytes", "lower"),
    ("job.shuffle_read_bytes", "bytes", "lower"),
    ("job.spill_bytes", "bytes", "lower"),
    ("job.pick_strategy_s", "s", "lower"),
    ("job.efficiency", "ratio", "higher"),
    ("job.arrow_floor_s", "s", "lower"),
    ("job.nested_megadoc_s", "s", "lower"),
    ("job.exploded_megadoc_s", "s", "lower"),
]
_REGISTRY_LAYER = [
    ("registry.fold_s", "s", "lower"),
    ("registry.chars_per_s", "chars/s", "higher"),
    ("typo.check_s", "s", "lower"),
]  # followed by one registry.step.<chain>.<step>_s metric per enabled step
_OTHER_LAYERS = [
    ("write.s", "s", "lower"),
    ("write.files", "count", "lower"),
    ("write.output_bytes", "bytes", "lower"),
    ("write.bytes_per_input_byte", "ratio", "lower"),
    ("extract.main_content_s", "s", "lower"),
    ("extract.enrich_s", "s", "lower"),
    ("extract.media_per_s", "1/s", "higher"),
    ("extract.null_ratio", "ratio", "lower"),
    ("curate.wall_s", "s", "lower"),
    ("curate.spark_jobs", "count", "lower"),
    ("textstats.quality_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.lsh_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.max_band_bucket", "count", "lower"),
    ("dedup.verify_s", "s", "lower"),
    ("dedup.near_pairs", "count", "higher"),
    ("dedup.useful_ratio", "ratio", "higher"),
    ("dedup.components_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"),
    ("trace.traced_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("ledger.driver_s", "s", "lower"),
    ("ledger.scheduling_s", "s", "lower"),
    ("ledger.other_stages_s", "s", "lower"),
    ("ledger.python_stage_s", "s", "lower"),
    ("ledger.python_interp_s", "s", "lower"),
    ("ledger.python_straggler_s", "s", "lower"),
    ("ledger.python_transfer_s", "s", "lower"),
    ("ledger.python_interp_share", "ratio", "higher"),
]
LEDGER_LAYERS = ["python_stage", "other_stages", "scheduling", "driver"]


def per_layer() -> list[tuple[str, str, str]]:
    from perfbench.trace import step_keys
    from perfbench.workloads import MODE

    steps = [(k, "s", "lower") for k in step_keys(MODE)]
    return _JOB_LAYER + _REGISTRY_LAYER + steps + _OTHER_LAYERS


# ---------------------------------------------------------------------------
# environment and session
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


_PINNED_VARS = ("PYTHONPATH", "PYSPARK_PYTHON", "TMPDIR", "SPARK_LOCAL_DIRS",
                "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS")


@contextmanager
def pinned_env(work: str):
    """Within the block, every file Spark, the JVM and Python write goes
    inside ``work``, and the Python workers import the engine from the
    repository root.  On exit the process environment, ``tempfile``'s
    directory and ``sys.path`` are restored and ``work`` is removed."""
    saved = {k: os.environ.get(k) for k in _PINNED_VARS}
    saved_tempdir, saved_path = tempfile.tempdir, list(sys.path)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + saved["PYTHONPATH"]
                                           if saved["PYTHONPATH"] else "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            shlex.quote(a)
            for a in [
                "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
                "--conf", "spark.ui.showConsoleProgress=false",
                "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                "pyspark-shell",
            ]
        )
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = saved_tempdir
        sys.path[:] = saved_path
        shutil.rmtree(work, ignore_errors=True)


def start_session(cores: int):
    """The engine's own session recipe, pinned to ``local[cores]``."""
    from patent_decision_document_converter_spark.plans.job import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _process_tree() -> set[int]:
    """The driver JVM and every process below it (the Python daemon and
    workers), from ``/proc``."""
    from pyspark import SparkContext

    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, grew = {SparkContext._gateway.proc.pid}, True
    while grew:
        new = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= new
        grew = bool(new)
    return tree


def reset_peak_rss() -> None:
    """Restart the peak resident set (VmHWM) of every process of the tree
    from its current resident set."""
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> tuple[float, float]:
    """Sum of the peak resident sets (VmHWM) of the process tree since the
    last :func:`reset_peak_rss`; also the JVM's own share."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    kb = {}
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb[pid] = int(line.split()[1])
        except OSError:
            continue
    return sum(kb.values()) / 1024.0, kb.get(jvm, 0) / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``/proc/stat``); a diagnostic for noisy hosts."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_config(spark, wl) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "nproc": wl.cores,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "arrow_max_records_per_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "driver_jvm_options": JVM_OPTIONS,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "setup_reps": SETUP_REPS,
        "warm_calls": wl.WARM_CALLS,
        "min_calls": MIN_CALLS,
        "trace_calls": TRACE_CALLS,
    }


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def _call(wl, spark, k: int) -> tuple[bool, float]:
    t0 = time.perf_counter()
    try:
        ok = bool(wl.call(spark, k))
    except Exception:
        traceback.print_exc()
        ok = False
    dt = time.perf_counter() - t0
    wl.cleanup(k)
    if not ok:
        print(f"call {k}: output check FAILED", file=sys.stderr)
    return ok, dt


def setup(wl, reps: int):
    """Session start, input generation and write, Python-worker warm-up,
    ``reps`` times (the first also launches the JVM); then, untimed, the
    expected outputs and the workload's warm-up calls.  Returns the
    session and the set-up times."""
    spark, times = None, []
    for _ in range(reps):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(wl.cores)
        wl.generate()
        wl.write()
        wl.warm_workers(spark)
        times.append(time.perf_counter() - t0)
    wl.prepare(spark)
    for _ in range(wl.WARM_CALLS):
        wl.warm_call(spark)
    return spark, times


def end_to_end(wl, spark, seconds: float, setup_times: list[float]) -> dict:
    walls, failed, k = [], 0, 0
    reset_peak_rss()
    steal0 = steal_s()
    # calls until the next one would, at the median call's length, end
    # after ``seconds``
    t_end = time.perf_counter() + seconds
    while k < MIN_CALLS or time.perf_counter() + statistics.median(walls) < t_end:
        k += 1
        ok, dt = _call(wl, spark, k)
        walls.append(dt)
        failed += not ok
    steal = steal_s() - steal0
    size = wl.sizes()
    wall = statistics.median(walls)
    rss, jvm_rss = peak_rss_mb()
    metrics = {
        "setup_s": statistics.median(setup_times),
        "wall_s": wall,
        "docs_per_s": size["docs"] / wall,
        "chars_per_s": size["chars"] / wall,
        "peak_rss_mb": rss,
    }
    samples = {"setup_s": setup_times, "wall_s": walls}
    return {"attempted": k, "failed": failed, "metrics": metrics, "samples": samples,
            "notes": {"jvm_peak_rss_mb": jvm_rss, "cpu_steal_during_calls_s": steal}}


def traced(wl, spark, seconds: float) -> dict:
    from perfbench.sparkstats import Collector
    from perfbench.trace import Tracer, layer_self_times, step_fold
    from perfbench.workloads import MODE

    collector = Collector(spark)
    tracer = Tracer(run_id=f"{wl.name}-{wl.seed}-{os.getpid()}")
    # untraced and traced calls in U T T U order, so that neither side
    # always follows the other; every call is followed by the same idle
    # pause, so the status-store reads after a traced call do not give
    # the next call a longer rest than an untraced call gets
    untraced, calls, failed, k = [], [], 0, 0
    t_end = time.perf_counter() + seconds
    while k < TRACE_CALLS or time.perf_counter() < t_end:
        k += 1
        t_idle = time.perf_counter() + SETTLE_S
        if k % 4 in (0, 1):
            ok, dt = _call(wl, spark, k)
            untraced.append(dt)
        else:
            with collector.group(f"call{k}") as gid:
                t0 = time.time()
                ok, dt = _call(wl, spark, k)
                t1 = t0 + dt
            st = collector.stats(gid)
            root = f"call{k}"
            tracer.add(root, t0, t1, None)
            for name, s, e, parent in st["spans"]:
                tracer.add(f"{root}.{name}", s, e, root if parent == "call" else f"{root}.{parent}")
            calls.append((dt, root, st))
        failed += not ok
        time.sleep(max(0.0, t_idle + dt - time.perf_counter()))

    py_names = set()
    for _, root, st in calls:
        py_names |= {f"{root}.stage{s}" for s in st["python_stage_ids"]}

    def layer_of(span):
        name = span[0]
        if span[3] is None:
            return "driver"
        if ".stage" not in name:
            return "scheduling"
        return "python_stage" if name in py_names else "other_stages"

    wall_u = statistics.median(untraced)
    wall_t = statistics.median(dt for dt, _, _ in calls)
    med = lambda key: statistics.median(st[key] for _, _, st in calls)  # noqa: E731
    texts = wl.text_runs()
    fold = step_fold(texts, MODE)
    typo_s = fold.pop("typo.check_s")
    fold_s = sum(fold.values())
    interp = (fold_s + typo_s) / wl.cores

    # the ledger of the traced call with the median wall
    dt, root, st = sorted(calls, key=lambda c: c[0])[len(calls) // 2]
    ledger = layer_self_times(tracer.tree(root), layer_of, LEDGER_LAYERS)
    py_union = ledger["python_stage"]
    straggler = max(0.0, py_union - st["python_stage_busy_s"] / wl.cores) if py_union else 0.0

    m = {name: 0.0 for name, _, _ in per_layer()}
    m.update(fold)
    m.update({
        "job.spark_jobs": med("spark_jobs"),
        "job.stages": med("stages"),
        "job.tasks": med("tasks"),
        "job.python_stage_busy_s": med("python_stage_busy_s"),
        "job.python_run_s": med("python_run_s"),
        "job.python_sent_bytes": med("python_sent_bytes"),
        "job.python_returned_bytes": med("python_returned_bytes"),
        "job.task_max_over_p50": med("task_max_over_p50"),
        "job.shuffle_write_bytes": med("shuffle_write_bytes"),
        "job.shuffle_read_bytes": med("shuffle_read_bytes"),
        "job.spill_bytes": med("spill_bytes"),
        "job.efficiency": (fold_s + typo_s) / (wall_u * wl.cores),
        "registry.fold_s": fold_s,
        "registry.chars_per_s": sum(map(len, texts)) / fold_s if fold_s else 0.0,
        "typo.check_s": typo_s,
        "trace.untraced_wall_s": wall_u,
        "trace.traced_wall_s": wall_t,
        "trace.overhead_s": wall_t - wall_u,
        "ledger.driver_s": ledger["driver"],
        "ledger.scheduling_s": ledger["scheduling"],
        "ledger.other_stages_s": ledger["other_stages"],
        "ledger.python_stage_s": py_union,
        "ledger.python_interp_s": interp if py_union else 0.0,
        "ledger.python_straggler_s": straggler,
        "ledger.python_transfer_s": max(0.0, py_union - interp - straggler) if py_union else 0.0,
        # the fold's share of the time Spark measured in the Python workers;
        # the rest is Arrow and pandas conversion inside the worker
        "ledger.python_interp_share": (fold_s + typo_s) / med("python_run_s")
        if med("python_run_s") else 0.0,
    })
    m.update(wl.layers(spark, collector))
    for check, ok in wl.checks.items():
        k += 1
        failed += not ok
        if not ok:
            print(f"layer check {check}: FAILED", file=sys.stderr)
    return {
        "attempted": k,
        "failed": failed,
        "metrics": m,
        "samples": {"untraced_wall_s": untraced, "traced_wall_s": [c[0] for c in calls]},
        "notes": {**wl.notes, "layer_checks": json.dumps(wl.checks),
                  "spans_recorded": len(tracer.spans)},
    }


def measure(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](work, seed, nproc())
    spark = None
    t0 = time.perf_counter()
    try:
        spark, setup_times = setup(wl, 1 if trace else SETUP_REPS)
        config = run_config(spark, wl)
        t1 = time.perf_counter()
        res = traced(wl, spark, seconds) if trace else end_to_end(wl, spark, seconds, setup_times)
    finally:
        shutdown(spark)
    t2 = time.perf_counter()
    res["notes"].update({"run_phase_setup_and_warm_s": t1 - t0, "run_phase_measure_s": t2 - t1})
    res.update({"config": config, "sizes": wl.sizes(), "input_digest": wl.input_digest()})
    return res


def _report(name: str, res: dict, trace: bool) -> dict:
    units = {n: u for n, u, _ in (per_layer() if trace else END_TO_END)}
    print(f"workload {name}  sizes {json.dumps(res['sizes'])}")
    print(f"input sha256 {res['input_digest']}")
    print(f"config {json.dumps(res['config'])}")
    for key, vals in res["samples"].items():
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [vals[0]] * 3
        print(f"  {key:<24} n={len(vals):<3} median={statistics.median(vals):.4f} "
              f"q1={q[0]:.4f} q3={q[2]:.4f} min={min(vals):.4f} max={max(vals):.4f} "
              f"in order: {' '.join(f'{v:.3f}' for v in vals)}")
    for key, value in res["metrics"].items():
        print(f"  {key:<52} {value:>16.6g} {units[key]}")
    print(f"  {'failed_ratio':<52} {res['failed'] / res['attempted']:>16.6g} ratio")
    for key, value in res.get("notes", {}).items():
        print(f"  {key:<52} {value:>16.6g}" if isinstance(value, float) else f"  {key:<52} {value}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    shutil.rmtree(WORK, ignore_errors=True)
    with pinned_env(WORK):
        import patent_decision_document_converter_spark  # noqa: F401  (fail before any work)

        res = measure(a.workload, a.seed, a.seconds, bool(a.trace), WORK)
    print(json.dumps(_report(a.workload, res, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
