"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds inputs from the seed, sets the Spark
session up three times (the first launches the JVM), runs the workload as a
closed loop with one client for at least ``--seconds`` of timed work (whole
passes), checks every output against an independent oracle outside the
timed region, and prints one JSON result object as the last stdout line:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import tracing as tr  # noqa: E402

WORKLOADS = ("tibia_cron", "stream_drain")
OPERATOR_MODULES = ("joins", "windows")
ROUTES = ("exp_record", "current_exp", "exp_gain", "register_online_players",
          "online_time_period", "rook_master")
SINK_FNS = ("insert_snapshot", "overwrite_latest", "upsert_partitions", "retention_keep_only")
SETUPS = 3

# tibia_cron population (players split evenly across worlds)
TIBIA_PLAYERS = 600
TIBIA_WORLDS = 2


def end_to_end_names() -> list[tuple[str, str]]:
    return [("setup_s", "s"), ("cpu_s", "s")]


def per_layer_names() -> list[tuple[str, str]]:
    names = [("bench.wall_s", "s"), ("bench.op_p50_s", "s"), ("bench.op_tail_s", "s"),
             ("session.build_s", "s"), ("session.first_action_s", "s"),
             ("catalog.table_s", "s"), ("catalog.input_mb", "MB"), ("catalog.scans_per_op", "count"),
             ("plans.build_s", "s"), ("plans.exec_s", "s"), ("plans.eager_jobs_per_op", "count")]
    for m in OPERATOR_MODULES:
        names += [(f"operators.{m}.calls", "count"), (f"operators.{m}.s", "s")]
    names += [(f"routes.{r}.p50_s", "s") for r in ROUTES]
    names += [("routes.guard_hit_s", "s"), ("routes.jobs_per_call", "count"),
              ("json_ingest.read_s", "s"), ("json_ingest.input_mb", "MB"),
              ("json_ingest.pages", "count"), ("json_ingest.bad_pages", "count"),
              ("json_ingest.useful_ratio", "ratio")]
    names += [(f"sinks.{f}.s", "s") for f in SINK_FNS]
    names += [("sinks.bytes_written_per_output_byte", "ratio"), ("sinks.files_written", "count"),
              ("sinks.hardlinks", "count"), ("sinks.generations_live", "count"),
              ("sinks.retention_rows_rewritten", "count"), ("sinks.warehouse_mb", "MB")]
    names += [("streaming.batches", "count"), ("streaming.input_rows", "count"),
              ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
              ("streaming.planning_s", "s"), ("streaming.commit_s", "s"),
              ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
              ("streaming.state_commit_s", "s")]
    names += [("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
              ("engine.executor_run_s", "s"), ("engine.executor_cpu_s", "s"), ("engine.gc_s", "s"),
              ("engine.task_overhead_s", "s"), ("engine.core_busy_ratio", "ratio"),
              ("engine.shuffle_write_mb", "MB"), ("engine.shuffle_read_mb", "MB"),
              ("engine.spill_mb", "MB"), ("engine.python_worker_mb", "MB")]
    names += [(f"selftime.{layer}_s", "s") for layer in
              ("bench", "session", "catalog", "plans", "operators", "routes", "json_ingest", "sinks")]
    names += [("trace.overhead_s", "s"), ("process.peak_rss_mb", "MB")]
    return names


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail_latency(lat: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it (the (n-10)-th order statistic), once that percentile reaches the
    median (n >= 20); below that, the maximum."""
    s = sorted(lat)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def cpu_now(pid: int) -> float:
    """CPU seconds used so far by this process and the driver JVM ``pid``."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / tick + t.user + t.system


def jvm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.rec = tr.Recorder()
        self.ops: list[dict] = []  # timed operations: name, s, ok, kind, traced
        self.passes: list[tuple[float, bool]] = []  # (seconds, traced)
        self.cpu: list[float] = []  # CPU seconds per pass
        self.traced_windows: list[tuple[float, float]] = []  # epoch bounds of traced passes
        self.failed = 0
        self.checks = 0
        self.extra: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")

    # -- environment ----------------------------------------------------------

    def prepare_env(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "eventlog", "data"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # every JVM of the run, the spark-submit launcher included: no
        # hsperfdata or temp files outside the work dir, and C1 only (a run
        # is too short for C2 to settle; see README)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def conf(self) -> dict[str, str]:
        c = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if self.trace:
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logStageExecutorMetrics": "true",
                "spark.executor.processTreeMetrics.enabled": "true",
            })
        return c

    def setup(self):
        """Set the session up SETUPS times; the first launches the JVM, the
        rest rebuild the session in it. setup_s is the median."""
        from forgottenlandapp_etl_spark import session

        builds, firsts = [], []
        spark = None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.build_session(app_name="perfbench", extra_conf=self.conf())
            t1 = time.perf_counter()
            spark.range(8).count()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            firsts.append(t2 - t1)
        spark.sparkContext.setLogLevel("ERROR")
        self.pid = jvm_pid(spark)
        setups = [b + f for b, f in zip(builds, firsts)]
        self.extra["setup_s"] = statistics.median(setups)
        self.layer["session.build_s"] = statistics.median(builds)
        self.layer["session.first_action_s"] = statistics.median(firsts)
        self.extra["cold_setup_s"] = setups[0]
        return spark

    def install_tracing(self, spark) -> None:
        from forgottenlandapp_etl_spark import catalog
        from forgottenlandapp_etl_spark.pipelines import routes
        from forgottenlandapp_etl_spark.sources import json_ingest, sinks
        import importlib

        rec = self.rec
        self.catalog_bytes = 0
        orig_table = catalog.table

        def table(spark_, sf_dir, name):
            if rec.enabled:
                p = os.path.join(sf_dir, f"{name}.parquet")
                if os.path.isfile(p):
                    self.catalog_bytes += os.path.getsize(p)
            return orig_table(spark_, sf_dir, name)

        catalog.table = rec.wrap(table, "catalog.table")
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"forgottenlandapp_etl_spark.operators.{m}")
            rec.wrap_module(mod, f"operators.{m}")
        rec.wrap_module(json_ingest, "json_ingest")
        self.retention_paths: list[str] = []
        orig_ret = sinks.retention_keep_only

        def retention_keep_only(spark_, path, *a, **kw):
            if rec.enabled:
                self.retention_paths.append(path)
            return orig_ret(spark_, path, *a, **kw)

        rec.wrap_module(sinks, "sinks")
        sinks.retention_keep_only = rec.wrap(retention_keep_only, "sinks.retention_keep_only")
        for r in ROUTES:
            setattr(routes.ETLPipelines, r, rec.wrap(getattr(routes.ETLPipelines, r), f"routes.{r}"))
        self.listener = tr.make_stream_listener()
        spark.streams.addListener(self.listener)

    # -- timed loop -----------------------------------------------------------

    def run_op(self, name: str, fn, kind: str = "op"):
        """Time one operation; exceptions count as failed."""
        sp = self.rec.begin(f"bench.{kind}")
        c0, t0 = cpu_now(self.pid), time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            log(f"op {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
            out, ok = None, False
        dt_, cpu = time.perf_counter() - t0, cpu_now(self.pid) - c0
        self.rec.end(sp)
        log(f"op {name} {dt_:.3f} s wall {cpu:.3f} s cpu")
        self.ops.append({"name": name, "s": dt_, "cpu": cpu, "ok": ok, "kind": kind,
                         "traced": self.rec.enabled})
        if not ok:
            self.failed += 1
        return out

    def traced_pass(self, i: int) -> bool:
        # in a traced run passes alternate untraced/traced so both walls are
        # measured in one process; trace.overhead_s is their difference
        return self.trace and i % 2 == 1

    def keep_going(self, i: int, timed: float) -> bool:
        return timed < self.args.seconds or (self.trace and i < 2)

    # -- workloads ------------------------------------------------------------

    def run_registry(self, spark) -> None:
        import regdata
        import registry_wl
        from forgottenlandapp_etl_spark.plans import ORACLE, QUERIES

        spec = registry_wl.WORKLOADS[self.args.workload]
        data = os.path.join(self.work, "data")
        self.extra["tables"] = regdata.write_tables(data, self.args.seed, **spec["tables"])
        oracle = registry_wl.DuckOracle(data, ORACLE)
        results: list[tuple[str, object]] = []

        def one(name: str):
            sp = self.rec.begin("plans.build")
            try:
                df = QUERIES[name](spark, data)
            finally:
                self.rec.end(sp)
            sp = self.rec.begin("plans.exec")
            try:
                return df.toPandas()
            finally:
                self.rec.end(sp)

        # a fixed order and no warm-up pass: each entry's first drain pays its
        # own class loading and compilation, the same in every run, as a
        # drain job launched in a fresh process does
        order = spec["entries"]
        timed, i = 0.0, 0
        while self.keep_going(i, timed):
            self.rec.enabled = self.traced_pass(i)
            c0, t0 = cpu_now(self.pid), time.perf_counter()
            for name in order:
                self.rec.op = len(self.ops)
                results.append((name, self.run_op(name, lambda n=name: one(n))))
                spark.catalog.clearCache()
            wall = time.perf_counter() - t0
            self.cpu.append(cpu_now(self.pid) - c0)
            if self.rec.enabled:
                self.traced_windows.append((time.time() - wall, time.time()))
            self.rec.enabled = False
            self.passes.append((wall, self.traced_pass(i)))
            timed += wall
            i += 1
        self.end_rss = jvm_hwm_mb(self.pid)
        for name, pdf in results:  # correctness, outside the timed region
            if pdf is None:
                continue
            self.checks += 1
            try:
                ok = registry_wl.canon(pdf) == oracle.expected(name)
            except Exception as exc:  # noqa: BLE001
                log(f"oracle for {name} failed: {exc}")
                ok = False
            if not ok:
                log(f"MISMATCH {name}")
                self.failed += 1

    def run_tibia(self, spark) -> None:
        import tibia
        from pyspark.sql import functions as F
        from forgottenlandapp_etl_spark.pipelines.routes import ETLPipelines
        from forgottenlandapp_etl_spark.sources import json_ingest

        wh = os.path.join(self.work, "warehouse")
        land = os.path.join(self.work, "land")
        world = tibia.World(self.args.seed, TIBIA_PLAYERS, TIBIA_WORLDS)
        oracle = tibia.Oracle()
        etl = ETLPipelines(spark, wh)
        self.land_stats = {"pages": 0, "bad_pages": 0, "bytes": 0, "entries": 0, "entries_ok": 0}
        self.sink_io = {"new_bytes": 0, "files": 0, "hardlinks": 0, "retention_rows": 0}
        self.new_inodes: dict = {}
        guard_not_none = 0

        def cycle(d: int, timed_day: bool) -> float:
            nonlocal guard_not_none
            date, day_dir = tibia.day_str(d), os.path.join(land, tibia.day_str(d))
            landed = world.land(day_dir, d)  # untimed: the client's fetch
            oracle.day(d, landed)
            if timed_day:
                for k in self.land_stats:
                    self.land_stats[k] += landed["stats"][k]
            prev = tibia.day_str(max(d - 1, 0))
            t0 = time.perf_counter()
            sp = self.rec.begin("bench.day")
            hs = json_ingest.read_highscores_pages(spark, os.path.join(day_dir, "highscores"))
            polls = json_ingest.read_online(spark, os.path.join(day_dir, "online")).withColumn(
                "poll_ts",
                F.regexp_extract(F.input_file_name(), r"poll(\d+)\.json", 1).cast("int"))
            snap = hs.where(F.col("category") == "experience").select(
                "name", "vocation", "world", "level", "value")
            rankings = hs.select("category", "name", "rank", "value")
            writes = [
                ("exp_record", lambda: etl.exp_record(snap, date)),
                ("current_exp", lambda: etl.current_exp(snap)),
            ]
            if d > 0:
                writes += [
                    ("exp_gain", lambda: etl.exp_gain(prev, date, "yesterday")),
                    ("exp_gain", lambda: etl.exp_gain(tibia.day_str(max(d - 7, 0)), date, "7days")),
                ]
            writes += [
                ("register_online_players", lambda: etl.register_online_players(polls, date)),
                ("online_time_period", lambda: etl.online_time_period(date, 7, "7days")),
                ("online_time_period", lambda: etl.online_time_period(date, 30, "30days")),
                ("rook_master", lambda: etl.rook_master(rankings, date)),
            ]
            guards = [
                ("exp_record", lambda: etl.exp_record(snap, prev)),
                ("online_time_period", lambda: etl.online_time_period(date, 7, "7days")),
                ("online_time_period", lambda: etl.online_time_period(date, 30, "30days")),
                ("rook_master", lambda: etl.rook_master(rankings, prev)),
            ]
            if d > 0:
                guards.append(("exp_gain", lambda: etl.exp_gain(prev, date, "yesterday")))
            walk = self.rec.enabled
            for kind, ops in (("route", writes), ("guard", guards)):
                for name, fn in ops:
                    if not timed_day:
                        out = fn()
                    else:
                        # inode sets are walked outside the op's timing
                        before = tr.inode_set(wh) if walk else None
                        self.rec.op = len(self.ops)
                        out = self.run_op(name, fn, kind)
                        if walk:
                            self._account_io(wh, before)
                    if kind == "guard" and out is not None:
                        guard_not_none += 1
                        log(f"guard {name} on {date} did not return None")
            self.rec.end(sp)
            return time.perf_counter() - t0

        # bootstrap day, untimed: first warehouse state and warm-up
        self.extra["bootstrap_s"] = cycle(0, timed_day=False)
        timed, i = 0.0, 0
        while self.keep_going(i, timed):
            self.rec.enabled = self.traced_pass(i)
            c0 = cpu_now(self.pid)
            wall = cycle(i + 1, timed_day=True)
            self.cpu.append(cpu_now(self.pid) - c0)
            self.passes.append((wall, self.rec.enabled))
            self.rec.enabled = False
            timed += wall
            i += 1
        self.end_rss = jvm_hwm_mb(self.pid)
        self.failed += guard_not_none
        # correctness: read every checked table back and compare
        for table, (cols, rows) in oracle.tables().items():
            self.checks += 1
            try:
                got = spark.read.parquet(os.path.join(wh, table)).select(*cols).collect()
                ok = tibia.canon_rows(got) == tibia.canon_rows(rows)
            except Exception as exc:  # noqa: BLE001
                log(f"reading {table} failed: {exc}")
                ok = False
            if not ok:
                log(f"MISMATCH {table}")
                self.failed += 1
        self.wh = wh

    def _account_io(self, wh: str, before: dict) -> None:
        after = tr.inode_set(wh)
        for k, (size, links) in after.items():
            if k not in before:
                self.sink_io["files"] += 1
                self.sink_io["new_bytes"] += size
                self.new_inodes[k] = size
                self.sink_io["hardlinks"] += links - 1
            elif links > before[k][1]:
                self.sink_io["hardlinks"] += links - before[k][1]
        import pyarrow.parquet as pq

        for path in self.retention_paths:
            cur = os.path.realpath(path)
            for dirpath, _d, files in os.walk(cur):
                for f in files:
                    if f.endswith(".parquet"):
                        self.sink_io["retention_rows"] += pq.read_metadata(
                            os.path.join(dirpath, f)).num_rows
        self.retention_paths.clear()

    # -- metrics --------------------------------------------------------------

    def latency(self) -> dict[str, float]:
        """Median pass wall time and operation latencies."""
        lat = [o["s"] for o in self.ops]
        tail, pct, n = tail_latency(lat)
        log(f"op_tail_s is the p{pct:.1f} latency of {n} operations")
        return {"wall_s": statistics.median(w for w, _t in self.passes),
                "op_p50_s": statistics.median(lat), "op_tail_s": tail}

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.extra["setup_s"], "cpu_s": statistics.median(self.cpu)}

    def per_layer(self, ev: dict) -> dict[str, float]:
        rec = self.rec
        traced = [w for w, t in self.passes if t]
        untraced = [w for w, t in self.passes if not t]
        k = max(1, len(traced))
        tops = [o for o in self.ops if o["traced"]]
        n_ops = max(1, len(tops))
        spans = rec.closed()
        m = dict(self.layer)
        for key, v in self.latency().items():
            m[f"bench.{key}"] = v

        def total(prefix: str, top_only: bool = False) -> float:
            s = 0.0
            for sp in spans:
                if not sp.name.startswith(prefix):
                    continue
                if top_only and sp.parent is not None and rec.spans[sp.parent].name.startswith(prefix):
                    continue
                s += sp.end - sp.start
            return s

        def count(prefix: str, top_only: bool = False) -> int:
            n = 0
            for sp in spans:
                if sp.name.startswith(prefix):
                    if top_only and sp.parent is not None and \
                            rec.spans[sp.parent].name.startswith(prefix):
                        continue
                    n += 1
            return n

        def jobs_under(prefix: str) -> int:
            return sum(1 for sp in ev["job_spans"].values()
                       if any(a.name.startswith(prefix) for a in rec.ancestors(sp)))

        m["catalog.table_s"] = total("catalog.table") / k
        m["catalog.input_mb"] = self.catalog_bytes / 1e6 / k
        m["catalog.scans_per_op"] = count("catalog.table") / n_ops
        m["plans.build_s"] = total("plans.build") / n_ops if count("plans.build") else 0.0
        m["plans.exec_s"] = total("plans.exec") / n_ops if count("plans.exec") else 0.0
        m["plans.eager_jobs_per_op"] = jobs_under("plans.build") / n_ops if count("plans.build") else 0.0
        for mod in OPERATOR_MODULES:
            p = f"operators.{mod}."
            m[f"operators.{mod}.calls"] = count(p, top_only=True) / k
            m[f"operators.{mod}.s"] = total(p, top_only=True) / k
        for r in ROUTES:
            lat = [o["s"] for o in self.ops if o["name"] == r and o["kind"] == "route"]
            m[f"routes.{r}.p50_s"] = statistics.median(lat) if lat else 0.0
        g = [o["s"] for o in self.ops if o["kind"] == "guard"]
        m["routes.guard_hit_s"] = statistics.median(g) if g else 0.0
        route_calls = sum(1 for o in tops if o["kind"] in ("route", "guard"))
        m["routes.jobs_per_call"] = jobs_under("routes.") / route_calls if route_calls else 0.0
        ls = getattr(self, "land_stats", None)
        days = max(1, len(self.passes))
        m["json_ingest.read_s"] = total("json_ingest.") / k
        m["json_ingest.input_mb"] = ls["bytes"] / 1e6 / days if ls else 0.0
        m["json_ingest.pages"] = ls["pages"] / days if ls else 0.0
        m["json_ingest.bad_pages"] = ls["bad_pages"] / days if ls else 0.0
        m["json_ingest.useful_ratio"] = ls["entries_ok"] / ls["entries"] if ls else 0.0
        for f in SINK_FNS:
            m[f"sinks.{f}.s"] = total(f"sinks.{f}") / k
        io = getattr(self, "sink_io", None)
        if io:
            live = tr.live_inodes(self.wh)
            live_new = sum(size for ino, size in self.new_inodes.items() if ino in live)
            m["sinks.bytes_written_per_output_byte"] = io["new_bytes"] / live_new if live_new else 0.0
            m["sinks.files_written"] = io["files"] / k
            m["sinks.hardlinks"] = io["hardlinks"] / k
            m["sinks.generations_live"] = sum(
                1 for t in os.listdir(self.wh) if "__gen" in t and not t.endswith(".tmp"))
            m["sinks.retention_rows_rewritten"] = io["retention_rows"] / k
            m["sinks.warehouse_mb"] = tr.tree_bytes(self.wh) / 1e6
        else:
            for key in ("bytes_written_per_output_byte", "files_written", "hardlinks",
                        "generations_live", "retention_rows_rewritten", "warehouse_mb"):
                m[f"sinks.{key}"] = 0.0
        prog = [p for p in self.listener.progress
                if any(a <= p["start"] <= b for a, b in self.traced_windows)]
        m["streaming.batches"] = len(prog) / k
        m["streaming.input_rows"] = sum(p["input_rows"] for p in prog) / k
        for key, src in (("trigger_s", "trigger_ms"), ("add_batch_s", "add_batch_ms"),
                         ("planning_s", "planning_ms"), ("commit_s", "commit_ms"),
                         ("state_commit_s", "state_commit_ms")):
            m[f"streaming.{key}"] = sum(p[src] for p in prog) / 1000.0 / k
        m["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)
        m["streaming.state_mb"] = max((p["state_bytes"] for p in prog), default=0) / 1e6
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "task_overhead_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            m[f"engine.{key}"] = ev[key] / k
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        m["engine.core_busy_ratio"] = ev["executor_run_s"] / (sum(traced) * cores) if traced else 0.0
        m["engine.python_worker_mb"] = ev["python_worker_mb"]
        st = rec.self_times()
        for layer in ("bench", "session", "catalog", "plans", "operators", "routes",
                      "json_ingest", "sinks"):
            m[f"selftime.{layer}_s"] = st.get(layer, 0.0) / k
        m["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced)
                                 if traced and untraced else 0.0)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        m["process.peak_rss_mb"] = self.end_rss + py_mb
        return m

    def record(self, spark_version: str) -> dict:
        import duckdb

        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        return {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.trace,
            "nproc": nproc(), "SPARK_GRAFT_CPUS": cpus, "cpus_mismatch": str(nproc()) != cpus,
            "spark": spark_version, "python": platform.python_version(),
            "duckdb": duckdb.__version__, "tables": self.extra.get("tables"),
            "land": getattr(self, "land_stats", None),
            "passes": [round(w, 4) for w, _t in self.passes],
            **{k: round(v, 4) for k, v in self.latency().items()},
            "cpu": [round(c, 4) for c in self.cpu],
            "cold_setup_s": round(self.extra["cold_setup_s"], 4),
            "bootstrap_s": round(self.extra.get("bootstrap_s", 0.0), 4),
        }


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway, SparkContext._jvm = None, None
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "forgottenlandapp_etl_spark")):
        log(f"program package forgottenlandapp_etl_spark not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    bench.prepare_env()
    spark = bench.setup()
    spark_version = spark.version
    if bench.trace:
        bench.install_tracing(spark)
    try:
        if args.workload == "tibia_cron":
            bench.run_tibia(spark)
        else:
            bench.run_registry(spark)
    finally:
        stop_spark(spark)
    if bench.trace:
        ev = tr.parse_event_log(os.path.join(bench.work, "eventlog"), bench.rec)
        metrics, units = bench.per_layer(ev), dict(per_layer_names())
        spans = os.path.join(os.path.dirname(bench.work), f"spans-{args.workload}-{args.seed}.jsonl")
        bench.rec.dump(spans)
        log(f"spans written to {spans}")
    else:
        metrics, units = bench.end_to_end(), dict(end_to_end_names())
    print(json.dumps({"record": bench.record(spark_version)}))
    shutil.rmtree(bench.work, ignore_errors=True)
    attempted = len(bench.ops) + bench.checks
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
