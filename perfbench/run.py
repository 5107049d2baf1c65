#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one process, one
SparkSession on ``local[nproc]``.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Workloads (README.md says why each exists):
  index_build  two build-heavy registered queries (IVF-PQ, SemDeDup),
               one query per op, to the noop sink
  etl_cycle    per op, one availableNow streaming.events.foreach_batch_upsert
               run over a newly landed events file, then
               plans.pipeline.run_pipeline into a fresh directory

The run builds its inputs (a fixed synthetic catalog, plus the seeded
event files and op order), starts the session, warms up with output
checks, then runs whole rounds of ops until --seconds have passed. The
last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones, taken from spans around calls into the
engine's public functions.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "udacitycapstonedataengineer_spark"

CPUS = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
CATALOG_SF = 0.01
CATALOG_SEED = 42  # the catalog is the same for every --seed
INDEX_QUERIES = (
    "ann_topk_ivfpq_served",  # ivfpq_build > coarse_fit_from_vectors, pq_train
    "semdedup_survivors_budgeted",  # kmeans_fit, semdedup_pairs
)
EVENT_BATCH_ROWS = 2500
EVENT_BATCH_DUPLICATES = 250  # redelivered rows the sink must drop
# untimed warm-up rounds, from measured settling: an etl_cycle op is
# within a few percent of its floor from the ninth op on; index_build's
# queries need two runs after their first, oracle-checked, one
WARMUP_ROUNDS = {"index_build": 3, "etl_cycle": 8}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_shares(before: list[int], after: list[int]) -> tuple[float, float, float]:
    """(busy, iowait, steal) shares of all CPUs between two snapshots."""
    d = [y - x for x, y in zip(before, after)]
    total = sum(d) or 1
    return 1 - (d[3] + d[4]) / total, d[4] / total, d[7] / total


def filesystem_of(path: str) -> str:
    best = ("", "?")
    with open("/proc/mounts") as f:
        for line in f:
            _, mount, fstype = line.split()[:3]
            if path.startswith(mount) and len(mount) > len(best[0]):
                best = (mount, fstype)
    return best[1]


def process_tree() -> list[int]:
    """This process and its descendants: the JVM and its Python workers."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier += [c for c, p in parent.items() if p == pid]
    return tree


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the process tree."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def parquet_stats(path: str) -> tuple[int, int, int]:
    """(rows, data files, bytes) of the parquet files under ``path``."""
    import pyarrow.parquet as pq

    rows = files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                rows += pq.ParquetFile(p).metadata.num_rows
                files += 1
                size += os.path.getsize(p)
    return rows, files, size


def count_files(path: str) -> int:
    return sum(len(names) for _, _, names in os.walk(path))


def same_rows(spark_pdf, oracle_pdf) -> bool:
    """Order-insensitive equality of two result frames, compared as
    strings the way the engine's correctness gate hashes them."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(oracle_pdf.columns) or len(spark_pdf) != len(oracle_pdf):
        return False

    def norm(df):
        return df[cols].astype(str).sort_values(by=cols).reset_index(drop=True)

    return norm(spark_pdf).equals(norm(oracle_pdf))


class Bench:
    """Session, inputs and bookkeeping shared by the workloads."""

    def __init__(self, spark, tracer, work: str, catalog_dir: str, tables, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.catalog_dir = catalog_dir
        self.tables = tables
        self.rng = random.Random(seed)
        self.seed = seed
        self.layer_counts: dict[str, float] = {}

    def count(self, name: str, value: float) -> None:
        self.layer_counts[name] = self.layer_counts.get(name, 0.0) + value

    def sweep(self) -> int:
        """Release every cached table and persisted RDD an op left behind;
        returns how many persisted RDDs there were."""
        jrdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        left = jrdds.size()
        self.spark.catalog.clearCache()
        for rdd in list(jrdds.values()):
            rdd.unpersist(False)
        return left


class IndexBuild:
    keys = INDEX_QUERIES

    def __init__(self, b: Bench):
        from concurrent.futures import ThreadPoolExecutor

        from udacitycapstonedataengineer_spark.plans.queries import ORACLE, QUERIES

        self.b, self.queries = b, QUERIES
        self.rows: dict[str, int] = {}
        # the DuckDB twins run on one core while the first runs warm the JVM
        pool = ThreadPoolExecutor(1)
        self.oracle = pool.submit(oracle_frames, b.catalog_dir, {k: ORACLE[k] for k in self.keys})
        pool.shutdown(wait=False)

    def first_run(self, key: str) -> bool:
        """A query's first run: its result must equal the DuckDB oracle's."""
        pdf = self.queries[key](self.b.spark, self.b.catalog_dir).toPandas()
        expected = self.oracle.result()[key]
        self.rows[key] = len(expected)
        return len(pdf) > 0 and same_rows(pdf, expected)

    def prepare(self, key: str) -> None:
        pass

    def run(self, key: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        tr = self.b.tracer
        with tr.span("plans.build", "plans"):
            df = self.queries[key](self.b.spark, self.b.catalog_dir)
        obs = Observation()
        with tr.span("exec.noop_write", "exec"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        return obs

    def check(self, key: str, obs) -> bool:
        return obs.get["rows"] == self.rows[key]


def oracle_frames(catalog_dir: str, sql: dict[str, str]):
    import duckdb

    from udacitycapstonedataengineer_spark.sources.readers import TABLES

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            path = os.path.join(catalog_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {k: con.execute(q).fetchdf() for k, q in sql.items()}
    finally:
        con.close()


class EtlCycle:
    """One op = ingest the newly landed events file through the streaming
    upsert, then rebuild the star schema into a fresh directory."""

    keys = ("ingest_and_rebuild",)
    STAR_READS = ("orders", "customer", "nation", "region")
    STAR_TABLES = ("priority_dim", "country_dim", "calendar_dim", "fact")

    def __init__(self, b: Bench):
        import numpy as np

        from udacitycapstonedataengineer_spark.plans.pipeline import run_pipeline
        from udacitycapstonedataengineer_spark.streaming.events import foreach_batch_upsert

        self.b, self.run_pipeline, self.upsert = b, run_pipeline, foreach_batch_upsert
        orders = b.tables["orders"]
        n = orders.num_rows
        self.expected = {
            "rows_before": n,
            "rows_after": n,
            "rows_dropped": 0,
            "priority_dim": len(set(orders.column("o_orderpriority").to_pylist())),
            "calendar_dim": len(set(orders.column("o_orderdate").to_pylist())),
            "country_dim": b.tables["nation"].num_rows,
            "fact": n,
            "unresolved_fks": 0,
        }
        self.star_in_bytes = sum(
            os.path.getsize(os.path.join(b.catalog_dir, f"{t}.parquet")) for t in self.STAR_READS
        )
        self.np_rng = np.random.default_rng(b.seed)
        self.landing = os.path.join(b.work, "landing")
        self.events_out = os.path.join(b.work, "events_out")
        os.makedirs(self.landing)
        self.batch = 0
        self.trigger_s: dict[int, float] = {}  # batch id -> trigger duration
        self.traced_batches: list[int] = []

    first_run = None

    def prepare(self, key: str) -> None:
        """Land the next events file (written aside, then renamed in, so
        the stream never lists a half-written file)."""
        import pyarrow.parquet as pq

        from catalog import event_table

        table = event_table(
            self.np_rng, self.batch * EVENT_BATCH_ROWS, EVENT_BATCH_ROWS, EVENT_BATCH_DUPLICATES
        )
        self.distinct = len(set(table.column("event_id").to_pylist()))
        path = os.path.join(self.landing, f"events-{self.batch:05d}.parquet")
        pq.write_table(table, path + ".tmp")
        os.rename(path + ".tmp", path)
        self.landed_bytes = os.path.getsize(path)
        self.star_out = os.path.join(self.b.work, "star", f"op{self.batch}")

    def run(self, key: str):
        tr = self.b.tracer
        if tr.enabled:
            self.traced_batches.append(self.batch)
        with tr.span("streaming.foreach_batch_upsert", "streaming"):
            applied = self.upsert(
                self.b.spark, self.b.catalog_dir, self.events_out, landing_dir=self.landing
            )
        with tr.span("plans.run_pipeline", "plans"):
            metrics = self.run_pipeline(self.b.spark, self.b.catalog_dir, self.star_out)
        return applied, metrics

    def check(self, key: str, result) -> bool:
        """The sink wrote one row per distinct landed event id; the star
        run's gate metrics and written row counts match the catalog."""
        applied, metrics = result
        rows, files, size = parquet_stats(os.path.join(self.events_out, f"batch_id={self.batch}"))
        ok = applied == 1 and rows == self.distinct and metrics == self.expected
        self.batch += 1
        b = self.b
        b.count("streaming.files_written", files)
        b.count("out_bytes", size)
        b.count("in_bytes", self.landed_bytes + self.star_in_bytes)
        for table in self.STAR_TABLES:
            rows, files, size = parquet_stats(os.path.join(self.star_out, table))
            ok = ok and rows == self.expected[table]
            b.count("writers.files_written", files)
            b.count("writers.bytes_written", size)
            b.count("out_bytes", size)
        shutil.rmtree(self.star_out)
        return ok

    def listen(self) -> None:
        """Record each micro-batch's trigger duration (traced runs only;
        events arrive on Spark's listener bus, which ``stage_totals``
        drains after every traced op)."""
        from pyspark.sql.streaming import StreamingQueryListener

        trigger_s = self.trigger_s

        class BatchTimes(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                trigger_s[p.batchId] = p.durationMs.get("triggerExecution", 0) / 1e3

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.b.spark.streams.addListener(BatchTimes())

    def traced_trigger_s(self) -> list[float]:
        return [self.trigger_s[i] for i in self.traced_batches if i in self.trigger_s]


WORKLOADS = {"index_build": IndexBuild, "etl_cycle": EtlCycle}


class Op:
    __slots__ = ("key", "seconds", "ok", "traced", "persisted", "stages")

    def __init__(self, key, seconds, ok, traced, persisted, stages):
        self.key, self.seconds, self.ok, self.traced = key, seconds, ok, traced
        self.persisted, self.stages = persisted, stages


def run_op(wl, b: Bench, key: str, op_id: int, traced: bool) -> Op:
    tr = b.tracer
    tr.enabled, tr.op_id = traced, op_id
    s0 = tr.stages_started()
    t = time.perf_counter()
    try:
        wl.prepare(key)
        t = time.perf_counter()
        with tr.span("op", "op"):
            handle = wl.run(key)
        seconds = time.perf_counter() - t
        ok = wl.check(key, handle)
    except Exception:  # an op that raises is a failed op; the loop goes on
        seconds = time.perf_counter() - t
        traceback.print_exc()
        ok = False
    tr.enabled = False
    stages = tr.stage_totals(s0, tr.stages_started()) if traced else None
    return Op(key, seconds, ok, traced, b.sweep(), stages)


def warm_up(wl, b: Bench, rounds: int) -> list[Op]:
    """Untimed rounds, so that timing starts on a warm JVM; a workload
    with ``first_run`` checks each key's first result there."""
    ops: list[Op] = []
    for r in range(rounds):
        keys = list(wl.keys)
        b.rng.shuffle(keys)
        for key in keys:
            if r == 0 and wl.first_run is not None:
                t = time.perf_counter()
                try:
                    ok = wl.first_run(key)
                except Exception:  # a failed check is a failed op
                    traceback.print_exc()
                    ok = False
                ops.append(Op(key, time.perf_counter() - t, ok, False, b.sweep(), None))
            else:
                ops.append(run_op(wl, b, key, -1, False))
    return ops


def measure(wl, b: Bench, seconds: float, trace: bool) -> tuple[list[Op], float]:
    """Whole rounds (each key once, in seeded order) until ``seconds``
    have passed; a traced run alternates traced and untraced rounds and
    runs at least one of each."""
    ops: list[Op] = []
    start = time.perf_counter()
    rounds = 0
    while True:
        keys = list(wl.keys)
        b.rng.shuffle(keys)
        traced = trace and rounds % 2 == 0
        for key in keys:
            ops.append(run_op(wl, b, key, len(ops), traced))
        rounds += 1
        if time.perf_counter() - start >= seconds and (not trace or rounds >= 2):
            return ops, time.perf_counter() - start


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; the minimum when there are ten samples or fewer."""
    xs = sorted(values)
    i = max(0, len(xs) - 11)
    return 100.0 * i / len(xs), xs[i]


def per_layer(b: Bench, ops: list[Op], session_s: float, wl) -> dict[str, tuple[float, str]]:
    from spans import FITS, STAGE_METRICS, self_times

    traced = [o for o in ops if o.traced]
    plain = [o for o in ops if not o.traced]
    n = len(traced)
    spans = b.tracer.spans
    total: dict[str, float] = {}
    calls: dict[str, int] = {}
    jobs: dict[str, int] = {}
    for s in spans:
        total[s.name] = total.get(s.name, 0.0) + s.end - s.start
        calls[s.name] = calls.get(s.name, 0) + 1
        jobs[s.name] = jobs.get(s.name, 0) + s.jobs
    op_time = sum(o.seconds for o in traced)

    def s(name):
        return total.get(name, 0.0) / n

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "readers.load_tables_s": (s("readers.load_tables"), "s"),
        "readers.load_tables_calls": (calls.get("readers.load_tables", 0) / n, "count"),
        "plans.build_s": (s("plans.build"), "s"),
        "plans.build_jobs": (jobs.get("plans.build", 0) / n, "count"),
        "plans.build_share": (total.get("plans.build", 0.0) / op_time, "ratio"),
    }
    for fn in FITS:
        name = f"operators.{fn}"
        m[f"{name}.s"] = (s(name), "s")
        m[f"{name}.calls"] = (calls.get(name, 0) / n, "count")
        m[f"{name}.jobs"] = (jobs.get(name, 0) / n, "count")
    m["exec.s"] = (s("exec.noop_write"), "s")
    m["exec.jobs"] = (jobs.get("op", 0) / n, "count")
    for name, unit in [("exec.stages", "count"), ("exec.tasks", "count")] + [
        (x, u) for x, _, _, u in STAGE_METRICS
    ]:
        m[name] = (sum(o.stages[name] for o in traced) / n, unit)
    m["exec.persisted_rdds_left"] = (statistics.mean(o.persisted for o in ops), "count")
    m["cleaning.row_accounting_s"] = (s("cleaning.row_accounting"), "s")
    m["quality.check_star_s"] = (s("quality.check_star"), "s")
    m["quality.check_star_jobs"] = (jobs.get("quality.check_star", 0) / n, "count")
    m["star.build_star_s"] = (s("star.build_star"), "s")
    m["writers.write_parquet_s"] = (s("writers.write_parquet"), "s")
    m["writers.write_parquet_jobs"] = (jobs.get("writers.write_parquet", 0) / n, "count")
    per_op = len(ops)
    m["writers.files_written"] = (b.layer_counts.get("writers.files_written", 0) / per_op, "count")
    m["writers.bytes_written"] = (b.layer_counts.get("writers.bytes_written", 0) / per_op, "byte")
    streaming = isinstance(wl, EtlCycle)
    batches = wl.traced_trigger_s() if streaming else []
    upsert = total.get("streaming.foreach_batch_upsert", 0.0)
    m["streaming.batch_s"] = (statistics.mean(batches) if batches else 0.0, "s")
    m["streaming.query_start_s"] = ((upsert - sum(batches)) / n if batches else 0.0, "s")
    m["streaming.files_written"] = (b.layer_counts.get("streaming.files_written", 0) / per_op, "count")
    m["streaming.checkpoint_files"] = (
        count_files(wl.events_out + "_ckpt") if streaming else 0,
        "count",
    )
    selfs = self_times(spans)
    for layer in ("op", "plans", "operators", "readers", "exec", "cleaning", "quality",
                  "star", "writers", "streaming"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")
    m["op_tail_s"] = (tail([o.seconds for o in ops])[1], "s")
    m["fail_ratio"] = (sum(not o.ok for o in ops) / len(ops), "ratio")
    in_b = b.layer_counts.get("in_bytes", 0)
    m["out_bytes_per_in_byte"] = (b.layer_counts.get("out_bytes", 0) / in_b if in_b else 0.0, "ratio")
    on = statistics.median(o.seconds for o in traced)
    off = statistics.median(o.seconds for o in plain)
    m["trace.overhead_s"] = (on - off, "s")
    m["trace.overhead_share"] = ((on - off) / off, "ratio")
    return m


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin
    closes; its Python workers are stopped with the context)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    age_at_t0 = process_age_s() - (time.perf_counter() - T0)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    c0 = cpu_counters()
    time.sleep(0.2)
    busy, iowait, steal = cpu_shares(c0, cpu_counters())
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything Spark, the JVM and Python spill to disk stays in the work dir
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import catalog

        catalog_dir = os.path.join(work, "catalog")
        tables = catalog.write_catalog(catalog_dir, CATALOG_SF, CATALOG_SEED)

        import pyspark

        from spans import Tracer
        from udacitycapstonedataengineer_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{CPUS}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                ),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t

        tracer = Tracer(spark)
        b = Bench(spark, tracer, work, catalog_dir, tables, args.seed)
        wl = WORKLOADS[args.workload](b)
        if args.trace:
            tracer.install()
            if isinstance(wl, EtlCycle):
                wl.listen()
        warm = warm_up(wl, b, WARMUP_ROUNDS[args.workload])
        b.layer_counts.clear()  # per-op counts cover timed ops only
        setup_s = age_at_t0 + time.perf_counter() - T0
        c0, cpu0 = cpu_counters(), tree_cpu_s()
        ops, wall = measure(wl, b, args.seconds, bool(args.trace))
        cpu_s = tree_cpu_s() - cpu0
        busy_m, _, steal_m = cpu_shares(c0, cpu_counters())
        peak_rss = tree_peak_rss_mb()
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": os.cpu_count(),
            "local_n": CPUS,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY,
            "catalog_sf": CATALOG_SF,
            "work_fs": filesystem_of(work),
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "loadavg_1m_at_start": os.getloadavg()[0],
            "cpu_busy_at_start": round(busy, 4),
            "iowait_at_start": round(iowait, 4),
            "steal_at_start": round(steal, 4),
            "warmup_ops": [[o.key, round(o.seconds, 3), o.ok] for o in warm],
            "measured_ops": [[o.key, round(o.seconds, 3), o.ok] for o in ops],
            "measured_s": round(wall, 3),
            "measured_cpu_s": round(cpu_s, 2),
            "measured_cpu_busy": round(busy_m, 4),
            "measured_steal": round(steal_m, 4),
        }
        pct, tail_s = tail([o.seconds for o in ops])
        env["op_tail"] = {"percentile": round(pct, 1), "samples": len(ops), "value_s": tail_s}
        if args.trace:
            metrics = per_layer(b, ops, session_s, wl)
            tracer.write(os.path.join(HERE, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(o.seconds for o in ops), "s"),
                "ops_per_s": (len(ops) / wall, "1/s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        print(json.dumps({"env": env}))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(warm) + len(ops)
    failed = sum(not o.ok for o in warm + ops)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
