"""The benchmark's workloads and the closed loop that times them.

One client, one process: the loop sends the next operation only after
the previous one has finished. An operation is one registry query
materialized with ``df.write.format("noop")`` (every column computed,
nothing shipped to the driver), one streaming drain, or one i94 pipeline
run. The seed sets the order of the operations in each pass and, for
the ETL operation, the generated input; the engine only sees the inputs.

The timed window runs a fixed number of whole passes over a workload's
operations: ``--seconds`` divided by the nominal pass time ``PASS_S``,
rounded. So every seed and every host times the same operations, only in
another order; a window that ran until a clock ran out would time two
passes on a slow host and three on a fast one, and the later passes run
faster as the JVM warms.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field, replace

import datagen
import tracing

PKG = "udacity_data_engineer_capstone_spark"

# Six of the scan/join/aggregate registry queries: the reference star
# join, a group-by, the SAS date decode, two TPC-H shapes and AQE skew
# handling.
STAR_QUERIES = (
    "flagship_regional_revenue", "agg_groupby_sum", "udf_sas_date",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "skew_zipf_aqe",
)
# A fixpoint graph operator over the shared adjacency and an
# availableNow drain.
ITERATIVE_STREAM = ("graph_pagerank", "stream_tumbling_counts")


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sf: float
    builds: tuple[str, ...] = ()
    # Operations only the traced run adds, in its first timed pass only:
    # their layers are measured, but one run of them costs more than the
    # run budget of every untraced run can carry.
    traced_ops: tuple[str, ...] = ()
    etl_rows: int = 0
    # Extra driver JVM flags. star_queries runs the C1 compiler only: at
    # the same median latency it halved the run-to-run spread, while on
    # iterative_stream C1 only doubled graph_pagerank's latency (see
    # README.md).
    jvm_flags: str = ""


WORKLOADS = {
    w.name: w
    for w in (
        Workload("star_queries", STAR_QUERIES, 0.01,
                 jvm_flags="-XX:TieredStopAtLevel=1"),
        Workload("iterative_stream", ITERATIVE_STREAM, 0.001,
                 builds=("graph_adjacency", "events_staging"),
                 traced_ops=("i94_etl",), etl_rows=50_000),
    )
}
# Nominal seconds of one timed pass of either workload on a 4-core
# machine; sets the number of passes a window of --seconds runs.
PASS_S = 4.0
DRIVER_HEAP = "1536m"
# A fixed heap and the serial collector keep heap sizing out of the
# figures.
JVM_FLAGS = "-XX:-UsePerfData -Xlog:disable -XX:+UseSerialGC -Xms1536m"

# Layers are named by the module that defines each operation. These keep
# their own name; the other modules, each defining one operation here,
# fold into <package>.other.
LAYER_MODULES = (
    "queries.reference_ops", "queries.tpch", "operators.graph",
    "streaming.events", "pipelines.i94",
)
OP_METRICS = (
    ("build_ms", "ms"), ("action_ms", "ms"), ("jobs", "count"),
    ("driver_gap_ms", "ms"), ("tasks", "count"), ("task_cpu_ms", "ms"),
    ("busy_share", "ratio"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
)
SETUP_LAYERS = (
    "session.build_s", "registry.load_all_s", "catalog.register_views_s",
    "operators.graph.adjacency_build_s", "streaming.events.staging_s",
)
ETL_LAYERS = (
    ("sources.sas_labels.parse_s", "s"), ("pipelines.i94.build_s", "s"),
    ("pipelines.i94.write_s", "s"), ("pipelines.i94.files_written", "count"),
    ("pipelines.i94.bytes_written", "B"), ("maintenance.compact_s", "s"),
    ("maintenance.bytes_rewritten", "B"), ("pipelines.i94.rows_per_s", "rows/s"),
    ("pipelines.i94.write_amplification", "ratio"),
)
OTHER_LAYERS = (
    ("session.gc_ms", "ms"), ("session.heap_growth_mb", "MB"),
    ("streaming.events.batches", "count"), ("streaming.events.batch_ms", "ms"),
    ("streaming.events.state_rows", "count"), ("bench.trace_overhead_ms", "ms"),
    ("bench.traced_latency_p50_s", "s"), ("bench.traced_cpu_s_per_op", "s"),
    ("bench.warmup_s", "s"),
    ("bench.cold_start_s", "s"),
)
OP_TIMEOUT_S = 120.0


def layer_of(module: str) -> str:
    short = module[len(PKG) + 1:] if module.startswith(PKG + ".") else module
    if short in LAYER_MODULES:
        return short
    return short.split(".")[0] + ".other"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, with its unit."""
    names = [(n, "s") for n in SETUP_LAYERS]
    groups = list(LAYER_MODULES) + ["queries.other", "operators.other"]
    names += [(f"{g}.{m}", u) for g in groups for m, u in OP_METRICS]
    names += list(ETL_LAYERS) + list(OTHER_LAYERS)
    return names


@dataclass
class OpRecord:
    name: str
    layer: str
    wall: float
    cpu: float = 0.0
    build: float = 0.0
    action: float = 0.0
    counts: dict = field(default_factory=dict)
    error: str | None = None


class Run:
    """State of one benchmark run: paths, session, tracer, records."""

    def __init__(self, workload: Workload, seed: int, seconds: float,
                 traced: bool, root: str, work: str) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracing.Tracer() if traced else tracing.NullTracer()
        self.ops = workload.ops + (workload.traced_ops if traced else ())
        self.root = root
        self.work = work
        self.run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.records: list[OpRecord] = []
        self.layers: dict[str, float] = {}
        self.check_errors: list[str] = []
        self.warmup_order: list[str] = []

    # -- inputs -----------------------------------------------------------

    def make_inputs(self) -> None:
        data = os.path.join(self.work, "data")
        self.sf_dir = datagen.ensure(
            data, f"sf{self.w.sf}-v{datagen.VERSION}",
            lambda d: datagen.write_tables(d, self.w.sf),
        )
        if "i94_etl" in self.ops:
            etl_in = os.path.join(self.run_dir, "etl_in")
            os.makedirs(etl_in)
            self.etl_paths = datagen.write_i94(etl_in, self.w.etl_rows, self.seed)
            with open(self.etl_paths["immigration"], "rb") as fh:
                self.input_digest = hashlib.sha256(fh.read()).hexdigest()[:16]

    # -- set-up -----------------------------------------------------------

    def setup(self, t_process: float, inputs_s: float) -> float:
        """Start the engine once, cold, then run the workload's one-time
        builds. Returns the time from process start to ready, less the
        time spent generating inputs.

        The engine is not imported before this point, so the time
        includes the Python imports, the JVM launch, ``load_all`` and
        view registration. A fresh temp root resets the catalog layout
        cache and the events-log cache, which live under it and would
        otherwise survive across runs."""
        d = os.path.join(self.run_dir, "tmp")
        os.makedirs(d)
        os.environ["TMPDIR"] = d
        tempfile.tempdir = d
        with self.tracer.span("setup"):
            self.layers.update(self._start())
        start = time.perf_counter() - t_process - inputs_s
        self.layers["bench.cold_start_s"] = start
        t0 = time.perf_counter()
        with self.tracer.span("one_time_builds"):
            self.layers.update(self._builds())
        builds = time.perf_counter() - t0
        print(f"setup: start={start:.2f}s builds={builds:.2f}s "
              + " ".join(f"{k}={v:.2f}" for k, v in self.layers.items()),
              file=sys.stderr)
        return start + builds

    def _start(self) -> dict[str, float]:
        """Session build, registry load and view registration."""
        from pyspark.sql import SparkSession

        out = {}
        with self.tracer.span("registry.load_all") as sp:
            import udacity_data_engineer_capstone_spark as engine

            engine.load_all()
        out["registry.load_all_s"] = time.perf_counter() - sp["start"]
        from udacity_data_engineer_capstone_spark import catalog, session

        with self.tracer.span("session.build") as sp:
            builder = (
                SparkSession.builder.master(f"local[{self.cores}]")
                .appName(f"perfbench-{self.w.name}")
                .config("spark.driver.memory", DRIVER_HEAP)
                .config("spark.driver.extraJavaOptions",
                        f"-Djava.io.tmpdir={self.run_dir} {JVM_FLAGS} {self.w.jvm_flags}")
                .config("spark.ui.showConsoleProgress", "false")
            )
            self.spark = session.configure(builder).getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
        out["session.build_s"] = time.perf_counter() - sp["start"]
        with self.tracer.span("catalog.register_views") as sp:
            catalog.register_views(self.spark, self.sf_dir)
        out["catalog.register_views_s"] = time.perf_counter() - sp["start"]
        return out

    def _builds(self) -> dict[str, float]:
        """The one-time builds the workload's operations share."""
        out = {}
        if "graph_adjacency" in self.w.builds:
            from udacity_data_engineer_capstone_spark.operators import graph

            t = time.perf_counter()
            g = graph._purchase_graph(self.spark, self.sf_dir)
            g["adj"].count()
            g["nodes"].count()
            out["operators.graph.adjacency_build_s"] = time.perf_counter() - t
        if "events_staging" in self.w.builds:
            from udacity_data_engineer_capstone_spark.streaming import events

            t = time.perf_counter()
            events.stage_events_dir(self.spark, self.sf_dir)
            out["streaming.events.staging_s"] = time.perf_counter() - t
        return out

    # -- operations -------------------------------------------------------

    @staticmethod
    def _fn(op: str):
        from udacity_data_engineer_capstone_spark.registry import QUERIES

        return QUERIES[op].fn

    def _layer(self, op: str) -> str:
        if op == "i94_etl":
            return "pipelines.i94"
        return layer_of(self._fn(op).__module__)

    def run_op(self, op: str, n: int) -> tuple[OpRecord, object]:
        rec = OpRecord(op, self._layer(op), 0.0)
        tr = self.tracer
        result = None
        with tr.span(op, layer=rec.layer, n=n) as span:
            cpu0 = tracing.tree_cpu_s()
            epoch0 = time.time()
            span["epoch0"] = epoch0
            t0 = time.perf_counter()
            try:
                if op == "i94_etl":
                    out = os.path.join(self.run_dir, f"etl_out{n}")
                    with tr.job_group(self.spark, "build") as jb:
                        result = self._etl(out)
                    rec.build = time.perf_counter() - t0
                    counts = [jb]
                else:
                    with tr.job_group(self.spark, "build") as jb:
                        df = self._fn(op)(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with tr.job_group(self.spark, "action") as ja:
                        materialize(df)
                    rec.build, rec.action = t1 - t0, time.perf_counter() - t1
                    counts = [jb, ja]
                    result = df
            except Exception as e:  # an op that raises counts as failed
                rec.error = f"{type(e).__name__}: {str(e)[:300]}"
                counts = []
            rec.wall = time.perf_counter() - t0
            rec.cpu = tracing.tree_cpu_s() - cpu0
            if rec.wall > OP_TIMEOUT_S and rec.error is None:
                rec.error = f"timeout: {rec.wall:.1f}s > {OP_TIMEOUT_S}s"
            span.update(build=rec.build, action=rec.action, wall=rec.wall,
                        cpu=rec.cpu, error=rec.error)
        if tr.enabled and counts:
            rec.counts = _merge_counts(counts, epoch0, epoch0 + rec.wall)
            span.update(rec.counts)
        return rec, result

    def _etl(self, out: str) -> dict:
        from udacity_data_engineer_capstone_spark import maintenance
        from udacity_data_engineer_capstone_spark.pipelines import i94

        paths = self.etl_paths
        ip = i94.I94Paths(paths["labels"], paths["demographics"],
                          paths["immigration"], out)
        with _Probe(i94, "read_label_block") as parse, _Probe(i94, "dq_count") as dq:
            t0 = time.perf_counter()
            tables = i94.run(self.spark, ip, write=True)
            t1 = time.perf_counter()
        maintenance.compact_parquet(
            self.spark, f"{out}/immigrations", f"{out}/immigrations_compacted")
        t2 = time.perf_counter()
        files, written = _dir_size(out, skip="immigrations_compacted")
        _, rewritten = _dir_size(f"{out}/immigrations_compacted")
        in_bytes = sum(os.path.getsize(paths[k])
                       for k in ("labels", "demographics", "immigration"))
        return {
            "tables": tables, "out": out, "paths": paths,
            "sources.sas_labels.parse_s": parse.total,
            "pipelines.i94.build_s": (dq.last_end or t1) - t0,
            "pipelines.i94.write_s": t1 - (dq.last_end or t1),
            "pipelines.i94.files_written": files,
            "pipelines.i94.bytes_written": written,
            "maintenance.compact_s": t2 - t1,
            "maintenance.bytes_rewritten": rewritten,
            "pipelines.i94.rows_per_s": self.w.etl_rows / (t1 - t0),
            "pipelines.i94.write_amplification": (written + rewritten) / in_bytes,
        }

    # -- output checks ----------------------------------------------------

    def warm_and_check(self, op: str) -> float:
        """Run ``op`` once, untimed, exactly as the timed loop does, then
        check its output against the DuckDB oracle. Returns the wall time
        of both; a failure is recorded in ``check_errors``."""
        import checks

        t0 = time.perf_counter()
        try:
            if op == "i94_etl":
                res = self._etl(os.path.join(self.run_dir, "etl_check"))
                self._check_etl(res)
                shutil.rmtree(res["out"], ignore_errors=True)
            else:
                materialize(self._fn(op)(self.spark, self.sf_dir))
                checks.check_query(self.spark, op, self.sf_dir,
                                   os.path.join(self.run_dir, "duck_spill"))
        except Exception as e:  # a check that cannot run is a failed check
            self.check_errors.append(f"{op}: {type(e).__name__}: {str(e)[:300]}")
        return time.perf_counter() - t0

    def _check_etl(self, res: dict) -> None:
        import checks
        from udacity_data_engineer_capstone_spark.queries import pipeline

        con = checks.duck_con(os.path.join(self.run_dir, "duck_spill"))
        try:
            for table, twin in (("immigrations", pipeline._FACT_ORACLE),
                                ("port_demographics", pipeline._PORT_DEMO_ORACLE)):
                sql = twin
                for key, path in pipeline._P.items():
                    if key in res["paths"]:
                        sql = sql.replace(path, res["paths"][key])
                schema = res["tables"][table].schema
                back = self.spark.read.parquet(f"{res['out']}/{table}")
                back = back.select([back[f.name].cast(f.dataType).alias(f.name)
                                    for f in schema.fields])
                checks.compare(f"etl_write:{table}", checks.spark_hash(back),
                               checks.duck_hash(con, sql))
        finally:
            con.close()


def materialize(df) -> None:
    """The timed action: compute every column, ship nothing back."""
    df.write.format("noop").mode("overwrite").save()


class _Probe:
    """Wrap ``module.attr`` for the duration of a ``with`` block and
    record the total time spent in it and when its last call ended."""

    def __init__(self, module, attr: str) -> None:
        self.module, self.attr = module, attr
        self.total = 0.0
        self.last_end: float | None = None

    def __enter__(self):
        self.orig = orig = getattr(self.module, self.attr)

        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                self.last_end = time.perf_counter()
                self.total += self.last_end - t

        setattr(self.module, self.attr, timed)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.module, self.attr, self.orig)


def _dir_size(path: str, skip: str | None = None) -> tuple[int, int]:
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        if skip and skip in dirnames:
            dirnames.remove(skip)
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _merge_counts(parts: list[dict], lo: float, hi: float) -> dict:
    out: dict = {}
    for p in parts:
        for k, v in p.items():
            out[k] = out.get(k, 0 if k != "intervals" else []) + v
    out["job_s"] = tracing.union_seconds(out.get("intervals", []), lo, hi)
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, root: str,
        work: str, t_process: float, small: bool = False) -> dict:
    """One benchmark run; returns the result object the CLI prints, plus
    ``errors`` and ``labels`` for the caller to report separately."""
    w = WORKLOADS[workload]
    if small:
        w = replace(w, sf=0.001, etl_rows=min(w.etl_rows, 2000))
    r = Run(w, seed, seconds, traced, root, work)
    try:
        return _run(r, t_process)
    finally:
        if r.spark is not None:
            r.spark.stop()
        _stop_jvm()
        shutil.rmtree(r.run_dir, ignore_errors=True)


def _stop_jvm() -> None:
    """End the driver JVM and wait for it. The JVM exits when its stdin
    pipe closes; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run(r: Run, t_process: float) -> dict:
    t = time.perf_counter()
    r.make_inputs()
    phases = {"inputs": time.perf_counter() - t}
    t = time.perf_counter()
    setup_s = r.setup(t_process, phases["inputs"])
    phases["setup"] = time.perf_counter() - t
    spark = r.spark
    if r.tracer.enabled:
        listener = tracing.StreamProgress()
        spark.streams.addListener(listener)
        gc0 = tracing.jvm_gc_ms(spark)
        heap0 = tracing.jvm_heap_after_gc_mb(spark)
    rng = random.Random(r.seed)
    # Warm-up pass, untimed: every operation once, in seeded order, on
    # the timed inputs, each checked against its oracle.
    t = time.perf_counter()
    order = list(r.ops)
    rng.shuffle(order)
    r.warmup_order = order
    warm_walls = {op: r.warm_and_check(op) for op in order}
    phases["warmup+checks"] = time.perf_counter() - t
    r.layers["bench.warmup_s"] = phases["warmup+checks"]
    t = time.perf_counter()
    n = 0
    with r.tracer.span("window"):
        for k in range(max(1, round(r.seconds / PASS_S))):
            order = list(r.ops if k == 0 else r.w.ops)
            rng.shuffle(order)
            for op in order:
                rec, result = r.run_op(op, n)
                n += 1
                r.records.append(rec)
                if op == "i94_etl" and result is not None:
                    r.layers.update({k: v for k, v in result.items()
                                     if k in dict(ETL_LAYERS)})
                    shutil.rmtree(result["out"], ignore_errors=True)
                del result
    phases["window"] = time.perf_counter() - t
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()),
          file=sys.stderr)
    print("ops (warm-up, timed median): " + " ".join(
        f"{op}={warm_walls.get(op, 0):.2f},{statistics.median([x.wall for x in r.records if x.name == op] or [0]):.2f}"
        for op in r.ops), file=sys.stderr)
    ok = [rec for rec in r.records if rec.error is None]
    failed_ops = {e.split(":")[0] for e in r.check_errors}
    failed = sum(1 for rec in r.records if rec.error or rec.name in failed_ops)
    attempted = len(r.records)
    metrics: dict[str, tuple[float, str]] = {}
    if not r.tracer.enabled:
        metrics["setup_s"] = (setup_s, "s")
        metrics["cpu_s_per_op"] = (sum(rec.cpu for rec in ok) / max(len(ok), 1), "s")
        metrics["peak_rss_mb"] = (tracing.peak_rss_mb(), "MB")
    else:
        r.layers["session.gc_ms"] = tracing.jvm_gc_ms(spark) - gc0
        r.layers["session.heap_growth_mb"] = tracing.jvm_heap_after_gc_mb(spark) - heap0
        spark.streams.removeListener(listener)
        n_stream = sum(1 for rec in r.records if rec.layer == "streaming.events") or 1
        r.layers["streaming.events.batches"] = listener.batches / n_stream
        r.layers["streaming.events.batch_ms"] = listener.batch_ms / max(listener.batches, 1)
        r.layers["streaming.events.state_rows"] = listener.state_rows / n_stream
        r.layers["bench.trace_overhead_ms"] = 1e3 * r.tracer.overhead_s / max(attempted, 1)
        same = [rec for rec in ok if rec.name in r.w.ops]
        r.layers["bench.traced_latency_p50_s"] = (
            statistics.median(rec.wall for rec in same) if same else 0.0)
        r.layers["bench.traced_cpu_s_per_op"] = (
            sum(rec.cpu for rec in same) / max(len(same), 1))
        r.layers.update(_op_layers(r.records, r.cores))
        for name, unit in per_layer_names():
            metrics[name] = (float(r.layers.get(name, 0.0)), unit)
        r.tracer.write(os.path.join(r.work, f"trace-{r.w.name}-{r.seed}.jsonl"))
    return {
        "labels": labels(r),
        "correct": not r.check_errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "errors": [rec.error for rec in r.records if rec.error][:5] + r.check_errors[:5],
    }


def labels(r: Run) -> dict:
    """What a result was measured on: machine size, heap, versions, the
    source revision and the seed."""
    import platform

    import pyspark

    ok = [rec.wall for rec in r.records if rec.error is None]
    return {
        "workload": r.w.name, "seed": r.seed, "seconds": r.seconds,
        "traced": r.tracer.enabled, "nproc": r.cores, "driver_heap": DRIVER_HEAP,
        "jvm_flags": f"{JVM_FLAGS} {r.w.jvm_flags}".strip(),
        "sf": r.w.sf, "etl_rows": r.w.etl_rows, "spark": pyspark.__version__,
        "python": platform.python_version(), "source": source_revision(r.root),
        "warmup_order": r.warmup_order,
        "op_order": [rec.name for rec in r.records],
        "op_walls": [round(rec.wall, 4) for rec in r.records],
        "op_cpu": [round(rec.cpu, 3) for rec in r.records],
        "latency_p50_s": statistics.median(ok) if ok else None,
        "ops_per_min": 60.0 * len(ok) / max(sum(ok), 1e-9),
        "inputs": getattr(r, "input_digest", None),
    }


def source_revision(root: str) -> str:
    """The git commit when the checkout is a repository, else a digest of
    the engine package's files."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, PKG)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return "tree-" + h.hexdigest()[:16]


def _op_layers(records: list[OpRecord], cores: int) -> dict[str, float]:
    by: dict[str, list[OpRecord]] = {}
    for rec in records:
        if rec.error is None and rec.counts:
            by.setdefault(rec.layer, []).append(rec)
    out: dict[str, float] = {}
    for layer, recs in by.items():
        k = len(recs)
        wall = sum(r.wall for r in recs)
        c = lambda key: sum(r.counts.get(key, 0) for r in recs)  # noqa: E731
        out[f"{layer}.build_ms"] = 1e3 * sum(r.build for r in recs) / k
        out[f"{layer}.action_ms"] = 1e3 * sum(r.action for r in recs) / k
        out[f"{layer}.jobs"] = c("jobs") / k
        out[f"{layer}.driver_gap_ms"] = 1e3 * (wall - c("job_s")) / k
        out[f"{layer}.tasks"] = c("tasks") / k
        out[f"{layer}.task_cpu_ms"] = c("task_cpu_ns") / 1e6 / k
        out[f"{layer}.busy_share"] = c("task_ms") / 1e3 / (wall * cores)
        out[f"{layer}.shuffle_bytes"] = (c("shuffle_read_bytes") + c("shuffle_write_bytes")) / k
        out[f"{layer}.spill_bytes"] = (c("spill_mem_bytes") + c("spill_disk_bytes")) / k
    return out
