"""The workloads and their closed-loop driver.

Each workload runs passes back to back on one thread. Pass 0 is the
cold pass, then come ``WARMUP_PASSES`` untimed passes, then timed passes
until the measurement window has elapsed and at least ``MIN_TIMED`` of
them are done. A pass is one ``run_pipeline()`` for
``etl_pipeline`` and one run of every query for ``query_mix``. Output
checks run outside the timed region, and on every pass.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from checks import fingerprint
from datagen import TARGET
from tracing import TAG_PREFIX, Tracer, fetch_jobs, job_tag, job_totals, plan_seconds, python_worker_seconds, user_tags

# Short queries where per-query fixed cost dominates, plus the iterative
# ones whose driver-side build (eager checkpoint jobs) dominates.
ITERATIVE = ["graph_pagerank_part_supplier"]
QUERY_MIX = [
    "tpch_q5_local_supplier_volume",
    "sessionize_events",
    "tfidf_top_terms",
    "pandas_udf_normalize_text",
    *ITERATIVE,
]
WORKLOADS = ("etl_pipeline", "query_mix")

# Untimed passes between the cold pass and the window. Every pass
# compiles new generated classes, so pass times keep falling for many
# passes while the JIT catches up; these skip the steepest part.
WARMUP_PASSES = {"etl_pipeline": 5, "query_mix": 2}
MIN_TIMED = 3
MAX_WINDOW_S = 100.0  # stop starting passes after this, whatever the window


@dataclass
class Outcome:
    """What one workload run measured."""

    pass_s: list[float] = field(default_factory=list)
    unit_s: list[dict[str, float]] = field(default_factory=list)  # per pass: unit -> s
    first_timed: int = 1  # passes before this one are cold or warm-up
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:300])


def closed_loop(run_pass, out: Outcome, warmup: int, seconds: float) -> None:
    """Run ``run_pass(i)`` for i = 0, 1, ...: the cold pass, ``warmup``
    untimed passes, then timed passes until the window is over."""
    for n in range(1 + warmup):
        run_pass(n)
    out.first_timed = n = 1 + warmup
    t0 = time.perf_counter()
    while True:
        run_pass(n)
        n += 1
        elapsed = time.perf_counter() - t0
        if n - out.first_timed >= MIN_TIMED and (elapsed >= seconds or elapsed >= MAX_WINDOW_S):
            return


def _median_timed(per_pass: list[float], out: Outcome) -> float:
    return statistics.median(per_pass[out.first_timed:])


# --- etl_pipeline -------------------------------------------------------

_READERS = {
    "sales_csv": "read_sales_csv",
    "customers_json": "read_customers_json",
    "finance_db": "read_finance_sqlite",
    "inventory_excel": "read_inventory_excel",
    "hr_flat": "read_hr_flat_file",
    "web_logs": "read_web_logs",
}


SOURCE_OF_TABLE = {table: key for key, table in TARGET.items()}


class EtlInstrument:
    """Spans and job tags around the orchestrator's stage calls: each
    source's reader, ``clean_common``, ``apply_transform`` and
    ``WarehouseLoader.load``. The source threads of one run are told
    apart by the reader that started them."""

    def __init__(self, env, tracer: Tracer):
        self.env, self.tracer = env, tracer
        self.pass_no = 0
        self.run_span: int | None = None
        self.local = threading.local()
        self.saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, wrap) -> None:
        orig = getattr(owner, name)
        self.saved.append((owner, name, orig))
        setattr(owner, name, wrap(orig))

    def _tid(self) -> str:
        return f"etl_pipeline:{self.pass_no}:{getattr(self.local, 'source', 'run')}"

    def _parent(self) -> int | None:
        return None if getattr(self.local, "source", None) is None else self.run_span

    def install(self) -> None:
        env, spark = self.env, self.env.spark
        for key, fn in _READERS.items():
            def wrap_reader(orig, key=key, fn=fn):
                def reader(*a, **kw):
                    self.local.source = key
                    spark.addTag(f"{TAG_PREFIX}etl_pipeline:{self.pass_no}:{key}")
                    with self.tracer.span(f"readers.{fn}", self._tid(), self.run_span):
                        return orig(*a, **kw)
                return reader
            self._patch(env.readers, fn, wrap_reader)
        for name in ("clean_common", "apply_transform"):
            def wrap_stage(orig, name=name):
                def stage(*a, **kw):
                    with self.tracer.span(f"orchestrator.{name}", self._tid(), self._parent()):
                        return orig(*a, **kw)
                return stage
            self._patch(env.orchestrator, name, wrap_stage)

        def wrap_load(orig):
            def load(loader, df, table, *a, **kw):
                try:
                    with self.tracer.span(f"WarehouseLoader.load:{table}", self._tid(), self._parent()):
                        return orig(loader, df, table, *a, **kw)
                finally:
                    if getattr(self.local, "source", None) is not None:
                        spark.removeTag(f"{TAG_PREFIX}etl_pipeline:{self.pass_no}:{self.local.source}")
                        self.local.source = None
            return load
        self._patch(env.loader.WarehouseLoader, "load", wrap_load)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self.saved):
            setattr(owner, name, orig)


def _parquet_rows(path: str) -> int:
    """Row count of a parquet table directory from its file footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _part_files(path))


def _part_files(path: str) -> list[str]:
    return [os.path.join(root, n) for root, _, names in os.walk(path) for n in names
            if n.startswith("part-")]


def _dir_files(path: str) -> tuple[int, int]:
    files = _part_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def run_etl(env, seconds: float, tracer: Tracer | None) -> Outcome:
    """One pass is one ``run_pipeline()`` into a fresh warehouse over the
    landing files generated at set-up (from the workload seed)."""
    out = Outcome()
    orch, spark = env.orchestrator, env.spark
    per_pass: list[dict[str, float]] = []
    inst = EtlInstrument(env, tracer) if tracer else None
    if inst:
        inst.install()

    def one_pass(p: int) -> None:
        wh = os.path.join(env.tmp, f"warehouse_{p}")
        pipeline = orch.ETLOrchestrator(spark, orch.default_sources(env.landing), wh, quiet=True)
        t0 = time.perf_counter()
        if inst:
            inst.pass_no = p
            with tracer.span("run_pipeline", f"etl_pipeline:{p}:run") as idx, \
                    job_tag(spark, f"etl_pipeline:{p}:run"):
                inst.run_span = idx
                run = pipeline.run_pipeline()
        else:
            run = pipeline.run_pipeline()
        wall = time.perf_counter() - t0
        out.pass_s.append(wall)
        out.unit_s.append({m.source_name: m.duration_seconds for m in run.metrics})
        _check_etl(env, run, wh, out)
        if inst:
            per_pass.append(_etl_layers(env, run, wh, wall, tracer, p))
        shutil.rmtree(wh, ignore_errors=True)

    try:
        closed_loop(one_pass, out, WARMUP_PASSES["etl_pipeline"], seconds)
    finally:
        if inst:
            inst.uninstall()
    if tracer:
        _add_job_layers(spark, per_pass, "etl_pipeline")
        out.layers = {k: _median_timed([d[k] for d in per_pass], out) for k in per_pass[0]}
    return out


def _check_etl(env, run, wh: str, out: Outcome) -> None:
    """Every source SUCCESS with exactly the planted drops, warehouse row
    counts equal to the generator's clean counts, and one health row per
    source for this run. The warehouse is read back with pyarrow, not
    with the Spark session under test."""
    health = {}
    try:
        rows = pq.read_table(os.path.join(wh, "pipeline_health")).to_pylist()
        health = {r["source_name"]: r for r in rows if r["run_id"] == run.run_id}
    except (OSError, pa.ArrowInvalid) as e:
        out.fail(f"pipeline_health unreadable: {e}")
    by_name = {m.source_name: m for m in run.metrics}
    for spec in env.orchestrator.default_sources(env.landing):
        key = SOURCE_OF_TABLE[spec.target_table]
        out.attempted += 1
        exp = env.planted[key]
        m = by_name.get(spec.display_name)
        drops = exp["dups"] + exp["nulls"] + exp["garbage"]
        problems = []
        if m is None or m.status != "SUCCESS":
            problems.append(f"status {m.status if m else 'missing'} {m.error_message if m else ''}")
        else:
            if (m.records_in, m.records_out, m.records_dropped) != (exp["clean"] + drops, exp["clean"], drops):
                problems.append(f"in/out/dropped {m.records_in}/{m.records_out}/{m.records_dropped}")
            try:
                n = _parquet_rows(os.path.join(wh, spec.target_table))
            except (OSError, pa.ArrowInvalid) as e:
                n = f"unreadable: {e}"
            if n != exp["clean"]:
                problems.append(f"warehouse rows {n} != {exp['clean']}")
            h = health.get(spec.display_name)
            if h is None or h["records_out"] != exp["clean"] or h["status"] != "SUCCESS":
                problems.append("health row missing or wrong")
        if problems:
            out.fail(f"etl {key}: " + "; ".join(problems))
    if run.uptime_pct != 100.0:
        out.fail(f"uptime {run.uptime_pct}%")


def _etl_layers(env, run, wh: str, wall: float, tracer: Tracer, p: int) -> dict[str, float]:
    layer: dict[str, float] = {}
    spans = [s for s in tracer.spans if s.trace_id.startswith(f"etl_pipeline:{p}:")]
    for key, fn in _READERS.items():
        layer[f"sources.read_s.{key}"] = sum(s.end - s.start for s in spans if s.name == f"readers.{fn}")
    for table in [*TARGET.values(), "pipeline_health"]:
        layer[f"loader.load_s.{table}"] = sum(
            s.end - s.start for s in spans if s.name == f"WarehouseLoader.load:{table}"
        )
    layer["sources.bytes_in"] = float(sum(os.path.getsize(v) for v in env.landing.values()))
    files, size = _dir_files(wh)
    layer["loader.files_written"] = float(files)
    layer["loader.bytes_written"] = float(size)
    layer["loader.bytes_ratio"] = size / layer["sources.bytes_in"]
    rows_in = sum(m.records_in for m in run.metrics)
    rows_out = sum(m.records_out for m in run.metrics)
    layer["operators.cleaning.rows_in"] = float(rows_in)
    layer["operators.cleaning.rows_out"] = float(rows_out)
    layer["operators.cleaning.drop_rate"] = (rows_in - rows_out) / rows_in
    by_name = {m.source_name: m for m in run.metrics}
    for spec in env.orchestrator.default_sources(env.landing):
        key = SOURCE_OF_TABLE[spec.target_table]
        layer[f"orchestrator.source_s.{key}"] = by_name[spec.display_name].duration_seconds
    starts = [m.start_time for m in run.metrics]
    ends = [m.end_time for m in run.metrics]
    layer["orchestrator.overlap"] = sum(m.duration_seconds for m in run.metrics) / wall
    layer["orchestrator.tail_s"] = wall - (max(ends) - min(starts)).total_seconds()
    return layer


# --- query_mix -----------------------------------------------------------

def run_queries(env, seed: int, seconds: float, tracer: Tracer | None, expected: dict) -> Outcome:
    """Every execution collects its result, which is fingerprinted and
    checked against ``expected`` after the timer stops. The cold pass runs
    the queries in list order, as a scheduled job would; warm passes
    shuffle them with ``seed``."""
    out = Outcome()
    spark, fns = env.spark, env.registry.QUERIES
    rng = random.Random(seed)
    per_pass: list[dict[str, float]] = []
    jsc = spark.sparkContext._jsc

    def one_pass(p: int) -> None:
        order = QUERY_MIX if p == 0 else rng.sample(QUERY_MIX, len(QUERY_MIX))
        units: dict[str, float] = {}
        results = []
        layer = dict.fromkeys(_QUERY_LAYERS, 0.0)
        t_pass = time.perf_counter()
        for q in order:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer:
                    df, rows = _traced_query(env, tracer, p, q, layer)
                else:
                    df = fns[q](spark, env.tables)
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failing query is counted, the loop goes on
                out.fail(f"{q} pass {p}: {type(e).__name__}: {e}")
                continue
            units[q] = time.perf_counter() - t0
            results.append((q, df.columns, rows))
        out.pass_s.append(time.perf_counter() - t_pass)
        out.unit_s.append(units)
        for q, columns, rows in results:
            got = fingerprint([tuple(r) for r in rows], columns)
            if got != expected.get(q):
                out.fail(f"{q} pass {p}: output {got} != expected {expected.get(q)}")
        if tracer:
            layer["plans.persisted_rdds_end"] = float(jsc.getPersistentRDDs().size())
            per_pass.append(layer)

    closed_loop(one_pass, out, WARMUP_PASSES["query_mix"], seconds)
    if tracer:
        _add_job_layers(spark, per_pass, "query_mix", out.pass_s)
        out.layers = {k: _median_timed([d[k] for d in per_pass], out) for k in per_pass[0]}
        out.layers["plans.persisted_rdds_end"] = per_pass[-1]["plans.persisted_rdds_end"]
    return out


_QUERY_LAYERS = (
    "plans.build_s", "plans.plan_s", "plans.exec_s", "plans.python_worker_s",
    "plans.persisted_rdds_delta",
    *(f"plans.build_s.{q}" for q in ITERATIVE),
)


def _traced_query(env, tracer: Tracer, p: int, q: str, layer: dict) -> tuple:
    spark = env.spark
    tid = f"query_mix:{p}:{q}"
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    with tracer.span(f"plans.query:{q}", tid):
        with tracer.span("plans.build", tid) as b, job_tag(spark, f"{tid}:build"):
            df = env.registry.QUERIES[q](spark, env.tables)
        with tracer.span("plans.plan", tid) as pl:
            plan_seconds(df)
        with tracer.span("plans.exec", tid) as ex, job_tag(spark, f"{tid}:exec"):
            rows = df.collect()
    sp = tracer.spans
    layer["plans.build_s"] += sp[b].end - sp[b].start
    layer["plans.plan_s"] += sp[pl].end - sp[pl].start
    layer["plans.exec_s"] += sp[ex].end - sp[ex].start
    if q in ITERATIVE:
        layer[f"plans.build_s.{q}"] += sp[b].end - sp[b].start
    layer["plans.python_worker_s"] += python_worker_seconds(spark)
    layer["plans.persisted_rdds_delta"] += rdds().size() - before
    return df, rows


def _add_job_layers(spark, per_pass: list[dict], workload: str, pass_s: list[float] | None = None) -> None:
    """Add job, stage, task, shuffle and spill counts per pass from the
    REST API, attributed by the benchmark's job tags."""
    jobs, stages = fetch_jobs(spark)
    for p, layer in enumerate(per_pass):
        mine = [j for j in jobs if any(t.startswith(f"{workload}:{p}:") for t in user_tags(j))]
        tot = job_totals(mine, stages)
        if workload == "etl_pipeline":
            src = [j for j in mine if not any(t.endswith(":run") for t in user_tags(j))]
            layer["orchestrator.jobs"] = float(tot["jobs"])
            layer["orchestrator.tasks"] = float(tot["tasks"])
            layer["operators.cleaning.shuffle_write_bytes"] = float(job_totals(src, stages)["shuffle_write_bytes"])
            continue
        build = [j for j in mine if any(t.endswith(":build") for t in user_tags(j))]
        layer["plans.build_jobs"] = float(len(build))
        layer["plans.exec_jobs"] = float(tot["jobs"] - len(build))
        layer["plans.stages"] = float(tot["stages"])
        layer["plans.tasks"] = float(tot["tasks"])
        layer["plans.shuffle_write_bytes"] = float(tot["shuffle_write_bytes"])
        layer["plans.spill_bytes"] = float(tot["spill_bytes"])
        layer["plans.parallelism"] = tot["executor_run_s"] / pass_s[p]
        for q in ITERATIVE:
            layer[f"plans.build_jobs.{q}"] = float(sum(
                1 for j in build if any(t == f"{workload}:{p}:{q}:build" for t in user_tags(j))
            ))
