"""Benchmark of the sync engine and its streaming indexes.

    python3 perfbench/run.py --workload sync_bulk --seed 1 --seconds 4 --trace 0

Workloads (see ``workloads.py``): ``sync_bulk`` (driver-side row path),
``sync_trickle`` (fixed cost of an incremental sync), ``index_stream``
(streaming near-dup and IVF-PQ epochs plus their read side).

One run, in one process: start a local Spark session over the tables in
``perfbench/data`` (copies of the sf0.1 ``events``, ``documents`` and
``embeddings`` test tables), set up the workload (warm-up rounds included;
``--seed`` picks offsets, slices and queries), then run timed rounds for
``--seconds``, checking each round's output outside the timed region. Every
file the run writes goes to a fresh run directory under ``.perfbench/``; the
engine's console output goes to ``engine.log`` there.

The last stdout line is the result JSON. With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics: that run
alternates untraced and traced rounds, writes Spark's event log, and leaves
every span in ``trace.json`` in its run directory. The line before it is a
report with the figures that are not gated (environment, host noise meter,
CPU split, workload-specific timings).
"""

import time

_PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import host  # noqa: E402
import sparklog  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Context  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "round_p50_s": "s"}

# per-layer metric → unit; every value is a mean per traced round
PER_LAYER = {
    "runner.fetch_s": "s", "runner.self_s": "s", "runner.rows": "count",
    "sql.compile_s": "s",
    "cursor.load_s": "s", "cursor.save_s": "s",
    "state.gets": "count", "state.sets": "count", "state.set_s": "s",
    "validate.rows": "count", "validate.is_valid_s": "s",
    "sinks.handle_row_s": "s", "sinks.finish_s": "s", "sinks.flushes": "count",
    "sinks.dest_s": "s",
    "sinks.api_calls.post": "count", "sinks.api_calls.search": "count",
    "sinks.api_calls.create": "count", "sinks.api_calls.update": "count",
    "streaming.neardup_epoch_s": "s", "streaming.ann_epoch_s": "s",
    "streaming.ann_prepare_s": "s", "streaming.probe_s": "s",
    "streaming.read_pairs_s": "s", "streaming.state_files": "count",
    "streaming.state_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.driver_only_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.python_udf_s": "s",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s",
    "trace.round_s": "s", "trace.untraced_round_s": "s", "trace.overhead_s": "s",
    "host.noise_before_s": "s", "host.noise_after_s": "s",
}

# span or counter name → (per-layer metric of its total time, of its call count)
SPAN_METRICS = {
    "runner.fetch": ("runner.fetch_s", None),
    "sql.compile": ("sql.compile_s", None),
    "cursor.load": ("cursor.load_s", None),
    "cursor.save": ("cursor.save_s", None),
    "state.get": (None, "state.gets"),
    "state.set": ("state.set_s", "state.sets"),
    "validate.is_valid": ("validate.is_valid_s", "validate.rows"),
    "sinks.handle_row": ("sinks.handle_row_s", None),
    "sinks.finish": ("sinks.finish_s", None),
    "sinks.flush": (None, "sinks.flushes"),
    "sinks.dest": ("sinks.dest_s", None),
    "sinks.api_calls.post": (None, "sinks.api_calls.post"),
    "sinks.api_calls.search": (None, "sinks.api_calls.search"),
    "sinks.api_calls.create": (None, "sinks.api_calls.create"),
    "sinks.api_calls.update": (None, "sinks.api_calls.update"),
    "streaming.neardup_epoch": ("streaming.neardup_epoch_s", None),
    "streaming.ann_epoch": ("streaming.ann_epoch_s", None),
    "streaming.probe": ("streaming.probe_s", None),
    "streaming.read_pairs": ("streaming.read_pairs_s", None),
}

CPU = ("proc.driver_cpu_s", "proc.jvm_cpu_s", "proc.pyworker_cpu_s")


def _set_env(run_dir: str) -> None:
    """Before the session starts: Python workers import the engine from
    this checkout, BLAS stays single-threaded (as in the engine's own bench),
    and every scratch file lands in the run directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM, the launcher's too: temp files in the run directory, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={run_dir}"
    )


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run_rounds(wl, tracer, jvm_pid: int, seconds: float, trace: bool) -> list[dict]:
    """Timed rounds until ``seconds`` have passed. With tracing, even rounds
    run untraced and odd rounds traced, so both see the same drift."""
    rounds: list[dict] = []
    deadline = time.perf_counter() + seconds
    while len(rounds) < (2 if trace else 1) or time.perf_counter() < deadline:
        i = len(rounds)
        traced = trace and i % 2 == 1
        wl.prepare(i)
        gc.collect()
        tracer.round = f"r{i}"
        if traced:
            tracer.enabled = True
            wl.instrument()
        cpu0 = host.cpu_split(jvm_pid)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            with tracer.span("round"):
                out = wl.round(i)
            error = None
        except Exception:
            out, error = {}, traceback.format_exc()
        t1, wall1 = time.perf_counter(), time.time()
        cpu1 = host.cpu_split(jvm_pid)
        tracer.restore()
        tracer.enabled = False
        rec = {"i": i, "traced": traced, "round_s": t1 - t0, "start": wall0, "end": wall1, **out}
        rec.update({k: cpu1[k] - cpu0[k] for k in CPU})
        if error is None:
            try:
                wl.check(i)
            except Exception:
                error = traceback.format_exc()
        if traced:
            rec.update(wl.round_metrics(i))
        rec["error"] = error
        if error:
            print(f"round {i} failed:\n{error}", file=sys.stderr)
        rounds.append(rec)
    return rounds


def _layer_metrics(rounds, tracer, wl, event_log) -> dict[str, float]:
    traced = [r for r in rounds if r["traced"]]
    untraced = [r for r in rounds if not r["traced"]]
    per_round = []
    for r in traced:
        m = dict.fromkeys(PER_LAYER, 0.0)
        spans = tracer.per_round(f"r{r['i']}")
        for name, (total_key, count_key) in SPAN_METRICS.items():
            total, _, calls = spans.get(name, (0.0, 0.0, 0))
            if total_key:
                m[total_key] = total
            if count_key:
                m[count_key] = calls
        run_sync = spans.get("runner.run_sync", (0.0, 0.0, 0))
        m["runner.self_s"] = run_sync[1]
        # per sync: one toLocalIterator() call and one exhausted next()
        m["runner.rows"] = spans.get("runner.fetch", (0, 0, 0))[2] - 2 * run_sync[2]
        m.update(sparklog.window(event_log, r["start"], r["end"]))
        for k in CPU + ("streaming.state_files", "streaming.state_bytes"):
            m[k] = r.get(k, 0.0)
        m["trace.round_s"] = r["round_s"]
        per_round.append(m)
    out = {k: statistics.fmean(m[k] for m in per_round) for k in PER_LAYER}
    out["streaming.ann_prepare_s"] = wl.extra.get("streaming.ann_prepare_s", 0.0)
    out["trace.untraced_round_s"] = statistics.fmean(r["round_s"] for r in untraced)
    out["trace.overhead_s"] = out["trace.round_s"] - out["trace.untraced_round_s"]
    return out


def run(args, run_dir: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import pyarrow.parquet as pq
    from pyspark import SparkContext

    from syncmaven_spark.session import get_spark, load_tables

    phases = {}
    workload = WORKLOADS[args.workload]
    # the benchmark's own work during set-up (reading the tables the checks
    # use, preparing and checking warm-up rounds) is not part of setup_s
    t0 = time.perf_counter()
    tables = {name: pq.read_table(os.path.join(DATA, f"{name}.parquet")) for name in workload.tables}
    own_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(run_dir, args.trace))
    load_tables(spark, DATA)
    phases["session_s"] = time.perf_counter() - t0
    tracer = Tracer(enabled=False)
    wl = workload(Context(spark, tracer, run_dir, args.seed, tables))
    t0 = time.perf_counter()
    wl.setup()
    phases["workload_setup_s"] = time.perf_counter() - t0 - wl.own_s
    phases["warmup_round_s"] = []
    for i in range(wl.warmup_rounds):
        t0 = time.perf_counter()
        wl.prepare(-1 - i)
        t1 = time.perf_counter()
        wl.round(-1 - i)
        t2 = time.perf_counter()
        wl.check(-1 - i)
        own_s += (t1 - t0) + (time.perf_counter() - t2)
        phases["warmup_round_s"].append(t2 - t1)
    gc.collect()
    phases["own_s"] = own_s + wl.own_s
    setup_s = time.time() - _PROCESS_START - phases["own_s"]

    env = host.environment(spark)
    noise_before = host.noise_meter()
    rounds = _run_rounds(wl, tracer, SparkContext._gateway.proc.pid, args.seconds, args.trace)
    noise_after = host.noise_meter()

    failed = sum(1 for r in rounds if r["error"])
    t0 = time.perf_counter()
    checks = wl.final_checks()
    for name, check in checks:
        try:
            check()
        except Exception:
            failed += 1
            print(f"final check {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
    attempted = len(rounds) + len(checks)
    phases["final_checks_s"] = time.perf_counter() - t0

    untraced = [r for r in rounds if not r["traced"]]
    # a failed round is counted in `failed`; its time is not a sample
    timed = [r for r in untraced if not r["error"]] or untraced
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "rounds": len(rounds),
        "round_s": [round(r["round_s"], 4) for r in rounds],
        "failed_ratio": failed / attempted,
        "host.noise_before_s": noise_before,
        "host.noise_after_s": noise_after,
        "env": env,
        "phases": phases,
        **wl.extra,
        **{k: statistics.fmean(r[k] for r in timed) for k in CPU},
    }
    for part in [k for k in timed[0] if k.endswith("_s") and k != "round_s" and k not in CPU]:
        report[part[:-2] + "_p50_s"] = statistics.median(r.get(part, 0.0) for r in timed)
    if len(timed) >= 10:
        report["round_p90_s"] = statistics.quantiles([r["round_s"] for r in timed], n=10)[-1]
    values = {
        "setup_s": setup_s,
        "round_p50_s": statistics.median(r["round_s"] for r in timed),
        "rows_per_s": statistics.median(
            r.get("rows", 0) / r.get("ingest_s", r["round_s"]) for r in timed
        ),
    }
    units = END_TO_END
    if args.trace:
        _stop_spark()
        values = _layer_metrics(rounds, tracer, wl, sparklog.parse(os.path.join(run_dir, "eventlog")))
        values["host.noise_before_s"], values["host.noise_after_s"] = noise_before, noise_after
        units = PER_LAYER
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump({"report": report, "rounds": rounds, "spans": tracer.records,
                       "per_layer": values}, f, indent=1)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return report, result


def _redirect_output(path: str) -> tuple[int, int]:
    """Point fds 1 and 2 at ``path`` (the JVM and Python workers inherit
    them); return the saved originals."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def _restore_output(saved: tuple[int, int]) -> None:
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(saved[0], 1)
    os.dup2(saved[1], 2)


def _keep_only(run_dir: str, keep: set[str]) -> None:
    for name in os.listdir(run_dir):
        if name not in keep:
            path = os.path.join(run_dir, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=4)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args()

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _set_env(run_dir)
    saved = _redirect_output(os.path.join(run_dir, "engine.log"))
    error = None
    try:
        report, result = run(args, run_dir)
    except BaseException:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        _restore_output(saved)
    _keep_only(run_dir, {"engine.log", "trace.json"})
    if error is not None:
        print(error, file=sys.stderr)
        return 1
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
