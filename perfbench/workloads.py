"""The benchmark's workloads. Each is a closed loop: a client starts an
operation only when its previous one has finished.

``osm_etl``     the reference pipeline on a seeded OSM document, one pass at
                a time: parse -> audit -> normalize -> write five tables ->
                the notebook's five queries over the written tables.
``query_sf0.1`` the registry's headline queries over seeded sf0.1-sized
                tables, one client, each pass in a seeded order.
``query_10x``   the same queries over a 10x key-shifted copy of those
                tables, one client per core, each in its own seeded order.

A run sets up, measures whole operations until the requested seconds are
spent, then checks every output outside the timed window. With tracing on,
the first half of the window runs untraced and the second half traced,
which gives the tracing overhead; the per-layer numbers come from the traced
half plus a few probes after the window.
"""

from __future__ import annotations

import os
import random
import statistics
import subprocess
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import harness
import osm_gen
import tables_gen

#: size of the generated OSM document; the parser splits it into one byte
#: range per core
OSM_BYTES = 6 << 20
#: the tables are the same on every run (built once, then reused); the run
#: seed orders the queries
TABLES_SEED = 20_261_017

#: untimed passes, and executions of every query, before the timed window
OSM_WARM_PASSES = 2
QUERY_WARM_ROUNDS = 3
#: a pass takes about half of a run's seconds, so the window also waits for
#: three passes: the median then drops one slow pass, and the five queries
#: give fifteen latency samples
OSM_MIN_PASSES = 3

OSM_TABLES = ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags")


@dataclass
class Context:
    root: str            # checkout root: holds the package and .bench_build
    work: str            # scratch directory of this run, removed at the end
    cache: str           # data kept between runs
    seed: int
    seconds: float
    trace: bool
    cores: int
    #: fraction of full input size; below 1 only in the benchmark's tests
    scale: float = 1.0


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    header: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


class Window:
    """The timed window: whole operations until ``seconds`` of wall time,
    less any paused stretch, are spent and at least ``min_ops`` operations
    have finished. Tracing, the first half runs untraced and the second
    traced, and the window lasts until each half has an operation."""

    def __init__(self, seconds: float, trace: bool, tracer: harness.Tracer, min_ops: int = 1):
        self.seconds, self.trace, self.tracer, self.min_ops = seconds, trace, tracer, min_ops
        self.untraced: list[float] = []
        self.traced: list[float] = []
        self.epoch = [0.0, 0.0]
        self._start = time.perf_counter()
        self._paused = 0.0
        self._lock = threading.Lock()

    @property
    def timed(self) -> float:
        return time.perf_counter() - self._start - self._paused

    @contextmanager
    def paused(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._paused += time.perf_counter() - t0

    def open(self) -> bool:
        """Whether another operation should start; switches tracing on once
        the untraced half is spent."""
        with self._lock:
            done = self.timed >= self.seconds and len(self.walls) >= self.min_ops
            if done and (not self.trace or self.traced):
                return False
            if self.trace and not self.tracer.enabled and self.timed >= self.seconds / 2:
                self.tracer.enabled = True
                self.epoch[0] = time.time()
            return True

    def record(self, wall: float, traced: bool) -> None:
        with self._lock:
            (self.traced if traced else self.untraced).append(wall)
            self.epoch[1] = time.time()

    @property
    def walls(self) -> list[float]:
        return self.untraced + self.traced

    def overhead(self) -> float:
        base = statistics.median(self.untraced)
        return (statistics.median(self.traced) - base) / base


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, 0 < q <= 1."""
    ordered = sorted(values)
    rank = max(1, -(-round(q * 1000) * len(ordered) // 1000))
    return ordered[rank - 1]


def _latency_metrics(out: Outcome, passes: list[float], queries: list[float],
                     timed_s: float) -> None:
    out.e2e["pass_p50_s"] = statistics.median(passes)
    out.e2e["query_p50_s"] = statistics.median(queries)
    out.e2e["query_p75_s"] = _percentile(queries, 0.75)
    out.e2e["queries_per_s"] = len(queries) / timed_s
    out.header["samples"] = {
        "passes": len(passes), "pass_walls": passes, "queries": len(queries),
        "queries_beyond_p75": sum(q > out.e2e["query_p75_s"] for q in queries),
    }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(ctx: Context, out: Outcome, tracer: harness.Tracer):
    """Start Spark through the engine's own session factory; tracing also
    turns on Spark's event log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = harness.DRIVER_MEM
    event_dir = os.path.join(ctx.work, "eventlog") if ctx.trace else None
    with tracer.span("session", "setup") as s:
        from data_wrangling_spark.session import get_spark

        spark = get_spark(app_name="perfbench",
                          extra_conf=harness.spark_conf(ctx.work, event_dir))
        spark.sparkContext.setLogLevel("ERROR")
    out.layers["session.start_s"] = s.duration if s else 0.0
    sc = spark.sparkContext
    out.header["spark"] = {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", "default"),
        "version": spark.version,
    }
    return spark, event_dir


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM and its Python workers
    to end."""
    from pyspark import SparkContext

    children = harness.descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    harness.wait_gone(children)


def _spark_layers(out: Outcome, event_dir: str, window: Window, cores: int) -> None:
    """spark.* per-layer metrics over the traced half, from the event log."""
    start, end = window.epoch
    st = harness.event_log_stats(event_dir, int(start * 1000), int(end * 1000))
    out.layers.update({
        "spark.shuffle_write_bytes": st.shuffle_write_bytes,
        "spark.shuffle_read_bytes": st.shuffle_read_bytes,
        "spark.spill_bytes": st.spill_bytes,
        "spark.gc_s": st.gc_s,
        "spark.task_skew": st.task_skew,
        "spark.task_busy_frac": st.task_s / (cores * max(end - start, 1e-9)),
    })


def _traced_call(spark, tracer: harness.Tracer, name: str, trace: str,
                 counts: list[tuple[int, int, int]], fn):
    """Run ``fn`` inside a span and, when tracing, under a job group of its
    own so that Spark's status tracker can count its jobs, stages and tasks."""
    sc = spark.sparkContext
    with tracer.span(name, trace) as s:
        if s is None:
            return fn()
        group = f"{trace}:{name}:{s.id}"
        sc.setJobGroup(group, name)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(harness.job_group_counts(sc, group))
        return result


def _common_layers(out: Outcome, tracer: harness.Tracer, window: Window,
                   counts: list[tuple[int, int, int]], planning: list[float]) -> None:
    n = max(len(counts), 1)
    passes = tracer.by_name("pass")
    out.layers.update({
        "plans.planning_s": statistics.median(planning),
        "plans.jobs_per_query": sum(c[0] for c in counts) / n,
        "plans.stages_per_query": sum(c[1] for c in counts) / n,
        "plans.tasks_per_query": sum(c[2] for c in counts) / n,
        "trace.overhead_frac": window.overhead(),
        # share of the traced passes' wall that the layers' spans cover
        "trace.self_time_coverage": 1 - sum(tracer.self_time(s) for s in passes)
        / sum(s.duration for s in passes),
    })


def _duckdb_mix_seconds(con, sqls: list[str]) -> float:
    """Sum over the mix of each query's median time in DuckDB (one warm-up
    run, then three timed runs, results fetched)."""
    total = 0.0
    for sql in sqls:
        con.execute(sql).fetchall()
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        total += statistics.median(runs)
    return total


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(base, n))
                files += 1
    return total, files


# ---------------------------------------------------------------------------
# osm_etl
# ---------------------------------------------------------------------------

def _count_tables(tables: dict) -> dict[str, int]:
    """Row count of every table in one Spark job."""
    from pyspark.sql import functions as F

    counted = None
    for name, df in tables.items():
        c = df.groupBy().count().select(F.lit(name).alias("table"), "count")
        counted = c if counted is None else counted.unionByName(c)
    return {r["table"]: r["count"] for r in counted.collect()}


def _osm_pass(spark, tracer: harness.Tracer, trace: str, xml: str, split_bytes: int,
              out_dir: str, counts: list, res: dict) -> None:
    """One pass of the pipeline, filling ``res`` with what the checks need.
    The caller releases the cached parse (``_release``). ``normalize`` only
    builds the plan; its work runs inside the writes."""
    from pyspark.sql import functions as F

    from data_wrangling_spark import sinks
    from data_wrangling_spark.operators.audit import audit
    from data_wrangling_spark.operators.normalize import normalize
    from data_wrangling_spark.sources.osm_xml import read_osm_xml

    res["results"], res["query_s"] = {}, []
    t0 = time.perf_counter()
    with tracer.span("pass", trace):
        with tracer.span("sources.osm_xml", trace):
            res["raw"] = raw = read_osm_xml(spark, xml, split_bytes=split_bytes).persist()
            res["elements"] = raw.count()
        with tracer.span("operators.audit", trace):
            tags = raw.select(F.explode("tags").alias("t")).select(
                F.col("t.k").alias("key"), F.col("t.v").alias("value"))
            res["buckets"] = len(audit(tags).collect())
        with tracer.span("operators.normalize", trace):
            res["norm"] = norm = normalize(raw, clean=True, validate="permissive", cache_raw=True)
        with tracer.span("sinks", trace):
            sinks.write_tables(norm.as_dict(), out_dir, register=spark)
        with tracer.span("plans.osm_reference", trace):
            for name, sql in checks.osm_queries("`").items():
                q0 = time.perf_counter()
                res["results"][name] = _traced_call(
                    spark, tracer, f"plans.{name}", trace, counts,
                    lambda sql=sql: spark.sql(sql).toPandas())
                res["query_s"].append(time.perf_counter() - q0)
    res["wall"] = time.perf_counter() - t0


def _release(res: dict) -> None:
    if "raw" in res:
        res["raw"].unpersist(blocking=True)


def check_osm_pass(res: dict, exp: osm_gen.OsmExpectation, out_dir: str,
                   cores: int) -> list[str]:
    """Compare one pass's outputs with the generator's expectations, and the
    five queries with DuckDB over the written parquet."""
    problems = []
    if res["elements"] != exp.elements:
        problems.append(f"elements {res['elements']} != {exp.elements}")
    if res["buckets"] != exp.audit_buckets:
        problems.append(f"audit buckets {res['buckets']} != {exp.audit_buckets}")
    quarantined = {name: q.count() for name, q in res["norm"].quarantine.items()}
    if quarantined != exp.quarantined:
        problems.append(f"quarantined {quarantined} != {exp.quarantined}")
    con = checks.duckdb_over(checks.written_table_views(out_dir, OSM_TABLES), cores)
    try:
        rows = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in OSM_TABLES}
        if rows != exp.valid:
            problems.append(f"written rows {rows} != {exp.valid}")
        for name, sql in checks.osm_queries('"').items():
            want = checks.value_hash(con.execute(sql).fetchdf())
            if checks.value_hash(res["results"][name]) != want:
                problems.append(f"{name} differs from DuckDB")
    finally:
        con.close()
    hydrants = len(res["results"]["osm_q3_fire_hydrants"])
    if hydrants != exp.hydrants:
        problems.append(f"fire hydrants {hydrants} != {exp.hydrants}")
    return problems


def _values_changed(raw) -> int:
    """Tag values the cleaners change, counted with the cleaning layer's
    own functions over the parsed tags normalize keeps."""
    from pyspark.sql import functions as F

    from data_wrangling_spark.functions.cleaning import clean_tag_value, is_problem_key, tag_key

    kv = raw.filter(F.col("element").isin("node", "way")).select(
        F.explode("tags").alias("t")).select(F.col("t.k").alias("k"), F.col("t.v").alias("v"))
    kept = kv.filter(~is_problem_key("k") & F.col("v").isNotNull())
    return kept.filter(~clean_tag_value(tag_key("k"), F.col("v")).eqNullSafe(F.col("v"))).count()


def _normalize_seconds(raw, clean: bool) -> tuple[float, dict[str, int]]:
    """normalize over the cached parse, materialized by counting its five
    valid tables in one job: (seconds, row counts)."""
    from data_wrangling_spark.operators.normalize import normalize

    t0 = time.perf_counter()
    rows = _count_tables(normalize(raw, clean=clean, validate="permissive").as_dict())
    return time.perf_counter() - t0, rows


def run_osm_etl(ctx: Context, out: Outcome) -> None:
    osm_dir = os.path.join(ctx.work, "osm")
    os.makedirs(osm_dir)
    xml = os.path.join(osm_dir, "input.osm")
    t0 = time.perf_counter()
    exp = osm_gen.generate_osm(xml, ctx.seed, int(OSM_BYTES * ctx.scale))
    split_bytes = -(-exp.input_bytes // ctx.cores)
    out.header["inputs"] = {
        "osm_bytes": exp.input_bytes, "osm_elements": exp.elements,
        "osm_split_bytes": split_bytes,
        "generate_s": time.perf_counter() - t0,
    }

    setup_clock = time.perf_counter()
    spark, event_dir = start_session(ctx, out, harness.Tracer(ctx.trace))
    out_dir = os.path.join(osm_dir, "tables")
    tracer = harness.Tracer(False)
    # untimed passes start the Python workers and compile the pipeline
    for _ in range(OSM_WARM_PASSES):
        warm: dict = {}
        _osm_pass(spark, tracer, "warmup", xml, split_bytes, out_dir, [], warm)
        _release(warm)
    out.e2e["setup_s"] = time.perf_counter() - setup_clock

    sampler = harness.RssSampler()
    sampler.start()
    window = Window(ctx.seconds, ctx.trace, tracer, min_ops=OSM_MIN_PASSES)
    counts: list[tuple[int, int, int]] = []
    query_s: list[float] = []
    last: dict = {}
    i = 0
    while window.open():
        res: dict = {}
        out.attempted += 1
        traced = tracer.enabled
        try:
            _osm_pass(spark, tracer, f"pass{i}", xml, split_bytes, out_dir, counts, res)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted; the loop goes on
            out.failed += 1
            out.problems.append(f"pass {i} raised {type(exc).__name__}: {exc}"[:300])
            with window.paused():
                _release(res)
            i += 1
            continue
        window.record(res["wall"], traced)
        query_s += res["query_s"]
        with window.paused():
            problems = check_osm_pass(res, exp, out_dir, ctx.cores)
            if problems:
                out.failed += 1
                out.problems += problems
            _release(res)
            last = res
        i += 1
    out.e2e["peak_rss_mb"] = sampler.stop()
    out.header["rss_mb_at_peak"] = [round(r) for r in sampler.at_peak]
    out.header["cpu_steal_frac"] = sampler.steal_frac
    _latency_metrics(out, window.walls, query_s, window.timed)
    out.header["samples"]["query_s"] = query_s

    if ctx.trace:
        _osm_layers(spark, ctx, out, tracer, window, exp, xml, split_bytes, last, counts, osm_dir)
        tracer.dump(os.path.join(ctx.cache, "trace_osm_etl.json"))
    stop_session(spark)
    if ctx.trace:
        _spark_layers(out, event_dir, window, ctx.cores)


def _osm_layers(spark, ctx: Context, out: Outcome, tracer: harness.Tracer, window: Window,
                exp: osm_gen.OsmExpectation, xml: str, split_bytes: int, last: dict,
                counts: list, osm_dir: str) -> None:
    from data_wrangling_spark.sources.osm_xml import read_osm_xml

    def self_time(name: str) -> float:
        return statistics.median(tracer.self_time(s) for s in tracer.by_name(name))

    parse_s = self_time("sources.osm_xml")
    tables_dir = os.path.join(osm_dir, "tables")
    write_bytes, write_files = _dir_stats(tables_dir)
    planning = [harness.planning_seconds(spark.sql(sql))
                for sql in checks.osm_queries("`").values()]
    # probes over a fresh cached parse of the same document
    raw = read_osm_xml(spark, xml, split_bytes=split_bytes).persist()
    raw.count()
    changed = _values_changed(raw)
    if changed != exp.values_changed:
        out.failed += 1
        out.problems.append(f"values changed {changed} != {exp.values_changed}")
    with_clean, without = [], []
    for _ in range(2):
        without.append(_normalize_seconds(raw, clean=False)[0])
        seconds, rows = _normalize_seconds(raw, clean=True)
        with_clean.append(seconds)
    tasks = raw.rdd.getNumPartitions()
    raw.unpersist(blocking=True)
    rows_out = sum(rows.values())
    con = checks.duckdb_over(checks.written_table_views(tables_dir, OSM_TABLES), ctx.cores)
    try:
        oracle_s = _duckdb_mix_seconds(con, list(checks.osm_queries('"').values()))
    finally:
        con.close()
    out.layers.update({
        "plans.osm_reference_s": statistics.median(
            s.duration for s in tracer.by_name("plans.osm_reference")),
        "sources.osm_xml.parse_s": parse_s,
        "sources.osm_xml.mb_per_s": exp.input_bytes / 2**20 / parse_s,
        "sources.osm_xml.elements": last["elements"],
        "sources.osm_xml.tasks": tasks,
        "operators.audit.audit_s": self_time("operators.audit"),
        "operators.audit.buckets": last["buckets"],
        "operators.normalize.normalize_s": statistics.median(with_clean),
        "operators.normalize.rows_out": rows_out,
        "operators.normalize.valid_frac": rows_out / (rows_out + sum(exp.quarantined.values())),
        "functions.cleaning.overhead_s": statistics.median(with_clean) - statistics.median(without),
        "functions.cleaning.values_changed": changed,
        "sinks.write_s": self_time("sinks"),
        "sinks.bytes_written": write_bytes,
        "sinks.files_written": write_files,
        "sinks.stored_bytes_per_input_byte": write_bytes / exp.input_bytes,
        "duckdb.oracle_s": oracle_s,
    })
    _common_layers(out, tracer, window, counts, planning)


# ---------------------------------------------------------------------------
# query_sf0.1 / query_10x
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    """Execute every operator of the plan, writing nothing."""
    df.write.format("noop").mode("overwrite").save()


def _prepare_tables(ctx: Context, out: Outcome, mult: int) -> str:
    """Build (or reuse) the tables and record their sizes in the header."""
    t0 = time.perf_counter()
    base = os.path.join(ctx.cache, "data", f"base-{ctx.scale}")
    built = tables_gen.generate_base(base, TABLES_SEED, ctx.scale)
    data_dir = base
    if mult > 1:
        data_dir = os.path.join(ctx.cache, "data", f"x{mult}-{ctx.scale}")
        built = tables_gen.materialize_scaled(base, data_dir, mult) or built
    out.header["inputs"] = {
        "tables_dir": os.path.relpath(data_dir, ctx.root),
        "multiplier": mult,
        "base_rows": {t: max(10, int(n * ctx.scale)) for t, n in tables_gen.BASE_ROWS.items()},
        "parquet_bytes": _dir_stats(data_dir)[0],
        "tables_seed": TABLES_SEED,
        "generated_this_run": built,
        "generate_s": time.perf_counter() - t0,
    }
    return data_dir


def run_query_mix(ctx: Context, out: Outcome, mult: int, clients: int) -> None:
    data_dir = _prepare_tables(ctx, out, mult)
    out.header["clients"] = clients

    setup_tracer = harness.Tracer(ctx.trace)
    setup_clock = time.perf_counter()
    spark, event_dir = start_session(ctx, out, setup_tracer)
    with setup_tracer.span("plans.registry", "setup") as s_reg:
        from data_wrangling_spark.plans.registry import bench_queries

        specs = bench_queries()
    with setup_tracer.span("plans.build", "setup") as s_build:
        dfs = {name: spec.spark(spark, data_dir) for name, spec in specs.items()}
    # warm-up: the mix several times over, from one thread per core, so that
    # the JVM compiles the mix's hot paths before the timed window
    with ThreadPoolExecutor(ctx.cores) as pool:
        list(pool.map(_noop, [df for _ in range(QUERY_WARM_ROUNDS) for df in dfs.values()]))
    out.e2e["setup_s"] = time.perf_counter() - setup_clock
    out.layers["plans.registry.load_s"] = s_reg.duration if s_reg else 0.0
    out.layers["plans.build_s"] = s_build.duration if s_build else 0.0

    tracer = harness.Tracer(False)
    latencies: dict[str, list[float]] = {n: [] for n in dfs}
    errors: dict[str, int] = {n: 0 for n in dfs}
    counts: list[tuple[int, int, int]] = []
    lock = threading.Lock()

    def client(c: int) -> None:
        rng = random.Random(f"{ctx.seed}/{c}")
        p = 0
        while window.open():
            order = sorted(dfs)
            rng.shuffle(order)
            traced = tracer.enabled
            trace_id = f"client{c}/pass{p}"
            p0 = time.perf_counter()
            with tracer.span("pass", trace_id):
                for name in order:
                    q0 = time.perf_counter()
                    try:
                        _traced_call(spark, tracer, f"plans.{name}", trace_id, counts,
                                     lambda df=dfs[name]: _noop(df))
                    except Exception as exc:  # noqa: BLE001 - a failed operation is counted
                        with lock:
                            errors[name] += 1
                            out.problems.append(f"{name} raised {type(exc).__name__}: {exc}"[:300])
                        continue
                    with lock:
                        latencies[name].append(time.perf_counter() - q0)
            wall = time.perf_counter() - p0
            window.record(wall, traced)
            p += 1

    sampler = harness.RssSampler()
    sampler.start()
    window = Window(ctx.seconds, ctx.trace, tracer)
    threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    timed = window.timed
    out.e2e["peak_rss_mb"] = sampler.stop()
    out.header["rss_mb_at_peak"] = [round(r) for r in sampler.at_peak]
    out.header["cpu_steal_frac"] = sampler.steal_frac

    # output checks, outside the timed window: every query's result against
    # its DuckDB oracle over the same parquet
    con = checks.duckdb_over(
        {t: tables_gen.table_source(data_dir, t) for t in tables_gen.TABLES}, ctx.cores)
    try:
        want = {n: checks.value_hash(con.execute(s.oracle).fetchdf())
                for n, s in specs.items() if s.oracle is not None}
        with ThreadPoolExecutor(ctx.cores) as pool:
            got = dict(zip(want, pool.map(
                lambda n: checks.value_hash(dfs[n].toPandas()), want)))
        for name in specs:
            n_ops = len(latencies[name]) + errors[name]
            out.attempted += n_ops
            if name in want and got[name] != want[name]:
                out.problems.append(f"{name} differs from its DuckDB oracle")
                errors[name] = n_ops
            out.failed += min(errors[name], n_ops)
        _latency_metrics(out, window.walls, [x for v in latencies.values() for x in v], timed)
        out.header["samples"]["per_query_p50_s"] = {
            n: statistics.median(v) for n, v in latencies.items() if v}
        if ctx.trace:
            _query_layers(spark, ctx, out, tracer, window, specs, data_dir, con, counts)
            tracer.dump(os.path.join(ctx.cache, f"trace_query_x{mult}.json"))
    finally:
        con.close()
    stop_session(spark)
    if ctx.trace:
        _spark_layers(out, event_dir, window, ctx.cores)


def _query_layers(spark, ctx: Context, out: Outcome, tracer: harness.Tracer, window: Window,
                  specs: dict, data_dir: str, con, counts: list) -> None:
    from data_wrangling_spark.sources.tables import load_table

    for name in specs:
        out.layers[f"plans.{name}.p50_s"] = statistics.median(
            s.duration for s in tracer.by_name(f"plans.{name}"))
    planning = [harness.planning_seconds(spec.spark(spark, data_dir)) for spec in specs.values()]
    scan = 0.0
    for table in tables_gen.TABLES:
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            _noop(load_table(spark, data_dir, table))
            runs.append(time.perf_counter() - t0)
        scan += min(runs)
    out.layers.update({
        "sources.tables.scan_s": scan,
        "duckdb.oracle_s": _duckdb_mix_seconds(
            con, [s.oracle for s in specs.values() if s.oracle is not None]),
    })
    _common_layers(out, tracer, window, counts, planning)


WORKLOADS = {
    "osm_etl": run_osm_etl,
    "query_sf0.1": lambda ctx, out: run_query_mix(ctx, out, mult=1, clients=1),
    "query_10x": lambda ctx, out: run_query_mix(ctx, out, mult=10, clients=ctx.cores),
}
