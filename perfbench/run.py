"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_pipeline|query_mix|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each workload runs in its own process
(``--workload all`` starts one child process per workload). The process
sets up three times (the first from process start, then twice more on a
restarted session with freshly imported package modules and freshly
generated inputs), runs the closed loop for ``--seconds``, checks the
outputs and prints a human-readable report followed, as the last line,
by one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything the run writes goes under a
temporary directory inside the checkout that is removed at exit.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_pipeline_orchestration_spark"
TABLES_SEED = 42  # query tables are fixed so their expected outputs can be stored
SF = 0.001  # query-table scale factor: per-query fixed cost dominates, as in bench.py's median query
MAX_SUMMARY_CHARS = 6000
SETUPS = 3

# name -> (unit) ; BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
_SOURCES = tuple(datagen.TARGET)
_TABLES = (*datagen.TARGET.values(), "pipeline_health")
_ITER = tuple(workloads.ITERATIVE)
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "plans.registry_import_s": "s",
    **{f"sources.read_s.{s}": "s" for s in _SOURCES},
    "sources.bytes_in": "bytes",
    "operators.cleaning.rows_in": "count",
    "operators.cleaning.rows_out": "count",
    "operators.cleaning.drop_rate": "ratio",
    "operators.cleaning.shuffle_write_bytes": "bytes",
    **{f"loader.load_s.{t}": "s" for t in _TABLES},
    "loader.bytes_written": "bytes",
    "loader.files_written": "count",
    "loader.bytes_ratio": "ratio",
    **{f"orchestrator.source_s.{s}": "s" for s in _SOURCES},
    "orchestrator.overlap": "ratio",
    "orchestrator.tail_s": "s",
    "orchestrator.jobs": "count",
    "orchestrator.tasks": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.parallelism": "ratio",
    "plans.python_worker_s": "s",
    "plans.persisted_rdds_delta": "count",
    "plans.persisted_rdds_end": "count",
    **{f"plans.build_s.{q}": "s" for q in _ITER},
    **{f"plans.build_jobs.{q}": "count" for q in _ITER},
    "trace.coverage": "ratio",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--landing-mult", type=int, default=10,
                    help="landing rows as a multiple of the reference simulators'")
    ap.add_argument("--expected", default=None, help="expected query outputs (JSON)")
    ap.add_argument("--spans", default=None, help="write the traced run's spans here (JSON lines)")
    return ap.parse_args(argv)


def spark_cores() -> int:
    """Half of this machine's cores. The other half is left to what runs
    beside the task threads: the JIT compiler threads (busy through every
    pass, since each pass compiles new generated classes), GC, the Python
    driver and the Python workers."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _hermetic_env(tmp: str) -> None:
    """Pin the Spark cores, make the package importable from
    Python workers, and keep every scratch file under ``tmp``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(tmp, 'derby')}",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return conf


def set_up(args, tmp: str, k: int, prev) -> tuple[SimpleNamespace, float]:
    """One set-up: import the package, start a session, import the query
    registry (query_mix) and generate the inputs. Set-up 0 is timed
    from process start; later ones first stop the previous session and
    drop the package's modules so that their import runs again."""
    if prev is not None:
        prev.spark.stop()
        shutil.rmtree(prev.tmp)
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
    t0 = T_START if k == 0 else time.perf_counter()
    env = SimpleNamespace(tmp=os.path.join(tmp, f"setup{k}"))
    os.makedirs(env.tmp)
    session = importlib.import_module(f"{PKG}.session")
    env.orchestrator = importlib.import_module(f"{PKG}.orchestrator")
    env.readers = importlib.import_module(f"{PKG}.sources.readers")
    env.loader = importlib.import_module(f"{PKG}.loader")
    t = time.perf_counter()
    env.spark = session.get_spark("perfbench", extra_conf=_spark_conf(tmp, args.trace == 1))
    env.session_s = time.perf_counter() - t
    env.registry_s = 0.0
    if args.workload == "etl_pipeline":
        env.landing, env.planted = datagen.write_landing(
            os.path.join(env.tmp, "landing"), args.seed, args.landing_mult
        )
    else:
        t = time.perf_counter()
        env.registry = importlib.import_module(f"{PKG}.plans.registry")
        env.registry.load_all()
        env.registry_s = time.perf_counter() - t
        env.tables = os.path.join(env.tmp, "tables")
        datagen.write_tables(env.tables, SF, TABLES_SEED)
    return env, time.perf_counter() - t0


def _calibration_sec(spark) -> float:
    """bench.py's machine-speed probe (30M-row range -> hash aggregate
    through the noop sink), run once for context."""
    t = time.perf_counter()
    (spark.range(30_000_000).selectExpr("id % 997 AS k", "id AS v").groupBy("k")
     .agg({"v": "sum", "*": "count"}).write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t


def _commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                       capture_output=True, text=True, check=False)
    return r.stdout.strip() or "unknown"


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def unit_medians(out) -> dict[str, float]:
    """Each unit's median over the timed passes."""
    names = out.unit_s[out.first_timed]
    return {k: statistics.median(p[k] for p in out.unit_s[out.first_timed:] if k in p) for k in names}


def end_to_end(setup_times: list[float], out) -> dict[str, tuple[float, int]]:
    """{metric: (value, sample count)}."""
    timed = out.pass_s[out.first_timed:]
    return {
        "setup_s": (statistics.median(setup_times), len(setup_times)),
        "pass_s": (statistics.median(timed), len(timed)),
    }


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG!r} not found next to {HERE}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    _hermetic_env(tmp)
    env = None
    try:
        setup_times = []
        for k in range(SETUPS):
            env, dt = set_up(args, tmp, k, env)
            setup_times.append(dt)
            if k == 0:
                session_start_s, registry_s = env.session_s, env.registry_s
        tracer = tracing.Tracer() if args.trace else None
        if args.workload == "etl_pipeline":
            out = workloads.run_etl(env, args.seconds, tracer)
        else:
            expected = checks.load_expected(args.expected).get(f"sf{SF:g}", {})
            out = workloads.run_queries(env, args.seed, args.seconds, tracer, expected)
        spark = env.spark
        e2e = end_to_end(setup_times, out)
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": spark.sparkContext.master, "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version, "sf": SF, "landing_mult": args.landing_mult,
            "passes": len(out.pass_s), "commit": _commit(),
            # the probe costs a second, so only traced runs pay for it
            "calibration_sec": round(_calibration_sec(spark), 3) if args.trace else "untraced",
            "setups_s": ",".join(f"{t:.2f}" for t in setup_times),
            "passes_s": ",".join(f"{t:.2f}" for t in out.pass_s),
        }
        print("perfbench " + " ".join(f"{k}={v}" for k, v in context.items()))
        for name, (value, n) in e2e.items():
            print(f"e2e {name} {value:.4f} {END_TO_END[name]} n={n}")
        print(f"e2e error_rate {out.failed / out.attempted:.4f} ratio n={out.attempted}")
        # Printed, not gated: runs of the same code spread past any bound
        # the benchmark may set (see README.md).
        units = [u for per_pass in out.unit_s[out.first_timed:] for u in per_pass.values()]
        print(f"info unit_s_p50 {_pct(units, 0.5):.4f} s n={len(units)}")
        print(f"info unit_s_p90 {_pct(units, 0.9):.4f} s n={len(units)}")
        print(f"info cold_s {out.pass_s[0]:.4f} s n=1")
        print("units " + " ".join(f"{k}={v:.3f}" for k, v in unit_medians(out).items()))
        for f in out.failures:
            print(f"FAILED {f}")
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(out.layers)
            layers["session.start_s"] = session_start_s
            layers["plans.registry_import_s"] = registry_s
            layers["session.jvm_peak_rss_mb"] = tracing.jvm_peak_rss_mb(spark)
            timed = sum(out.pass_s)
            top = sum(s.end - s.start for s in tracer.spans if s.parent is None)
            layers["trace.coverage"] = top / timed
            n_timed = len(out.pass_s) - out.first_timed
            for name, unit in PER_LAYER.items():
                print(f"layer {name} {layers[name]:.6g} {unit} n={n_timed}")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            if args.spans:
                tracer.write(args.spans)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        summary = json.dumps({
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        })
        if len(summary) > MAX_SUMMARY_CHARS:
            raise RuntimeError(f"summary line is {len(summary)} chars, over {MAX_SUMMARY_CHARS}")
        print(summary, flush=True)
        return 0
    finally:
        _tear_down()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass


def _tear_down() -> None:
    """Stop the session and wait for the JVM this process launched."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_all(args) -> int:
    """Each workload in a fresh process, one after another."""
    worst = 0
    for wl in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--landing-mult", str(args.landing_mult)]
        if args.expected:
            cmd += ["--expected", args.expected]
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


def main(argv=None) -> int:
    # A terminated run still tears down its JVM and temporary directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = _args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
