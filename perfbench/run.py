"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analytics|curation|rpc \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run writes its fixtures under
``perfbench/_work`` (once per checkout), starts the engine's own session
on ``local[<cpus>]``, sets up several times, makes a cold pass over the
workload's op mix, measures a warm window of at least ``--seconds``,
checks every answer outside the timed region, and prints a report line
and then the result line (the last line of stdout). ``--trace 0`` gives
the end-to-end metrics; ``--trace 1`` records spans and gives the
per-layer metrics. The exit code is 0 only when every answer was right.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gzip
import http.client
import json
import os
import shutil
import subprocess
import sys
import time
import zlib

import pandas as pd
import pyarrow.parquet as pq

import fixtures
import instrument
from loadgen import run_open_loop
from spans import Tracer, self_time_by_layer, union_length
from sparkstat import StatusReader, python_nodes
from stats import geomean, median, tail
from workloads import (
    ANALYTICS, BASE_DOCS, CURATION, ID_STRIDE, RANGE_ROWS, RPC_BLOCK, dir_bytes, head_version,
    manifest, oracle_frame, parity_error, pass_ops, rpc_cold_requests, rpc_plan,
    slice_bounds, snapshot_rows,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"  # the engine defaults to 24g; the host has 15 GB
SETUP_REPS = 3
#: requests/s: four whole request blocks in 10 s, about half the rate
#: nproc closed-loop clients reach in the warm-up (``warmup_rps``, ~10/s)
RPC_RATE = 4.8
RPC_LIMIT_S = 2.0  # a 200 slower than this is not goodput
LAYERS = ("session", "operators", "spark", "staging", "dataset_export", "pipeline",
          "server", "msgpack_codec")


def hermetic_env(run_dir: str) -> None:
    """Keep every file the JVM, Hive and the Python workers write inside
    ``run_dir``, and ship the package to the workers on PYTHONPATH."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    java_opts = f"-Dderby.system.home={run_dir} -Djava.io.tmpdir={run_dir}/tmp"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
            f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
            "pyspark-shell",
        ]),
    })
    time.tzset()
    os.chdir(run_dir)  # metastore_db and derby.log land here


def _tree(pids_info) -> list[int]:
    """This process and all its descendants, from {pid: ppid}."""
    children: dict[int, list[int]] = {}
    for pid, ppid in pids_info.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process and all its
    descendants (the JVM and its Python workers). Unlike wall time it
    does not grow when other tenants of the host take the CPU."""
    parents, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we looked
        parents[int(name)] = int(fields[1])
        cpu[int(name)] = int(fields[11]) + int(fields[12])
    return sum(cpu.get(pid, 0) for pid in _tree(parents)) / os.sysconf("SC_CLK_TCK")


def tree_rss(skip_java: bool = False) -> int:
    """Summed RSS of this process and its descendants (the JVM and, under
    it, the Python workers), optionally leaving the JVM's own RSS out."""
    parents, rss, java = {}, {}, set()
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        parents[int(name)] = int(rest.split()[1])
        if comm.endswith("(java"):
            java.add(int(name))
    return sum(rss.get(pid, 0) for pid in _tree(parents) if not (skip_java and pid in java))


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_peak_rss_mb() -> float:
    """Summed high-water RSS (``VmHWM``) of this process and its
    descendants, read once after the checks: an upper bound on their
    joint peak that needs no sampler running through the window."""
    parents, peak = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            parents[int(name)] = int(fields["PPid"])
            peak[int(name)] = int(fields.get("VmHWM", "0 kB").split()[0]) * 1024
        except (OSError, ValueError, KeyError):
            continue  # the process ended while we looked
    return sum(peak.get(pid, 0) for pid in _tree(parents)) / 2**20


def full_gc(spark):
    """Two full collections of the JVM heap; returns the py4j JVM view."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    return jvm


def memory_mb(spark) -> float:
    """What the run holds at the end of the window: the JVM heap still
    live after a full GC, plus the RSS of the Python driver and workers.
    (The JVM's RSS follows heap sizing and GC timing more than the
    program, so it is reported only as ``peak_rss_mb``.)"""
    jvm = full_gc(spark)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return (heap + tree_rss(skip_java=True)) / 2**20


class Run:
    """Set-up, cold pass, warm window and checks shared by the workloads."""

    def __init__(self, args, tracer, sf_dir: str, run_dir: str):
        self.args, self.tracer, self.sf_dir, self.run_dir = args, tracer, sf_dir, run_dir
        self.failures: list[str] = []
        self.attempted = 0
        self.details: dict = {}
        self.window_ops: list[str] = []
        self.latencies: list[float] = []
        self.kinds: list[str] = []  # op kind of each latency
        self.passes = 0
        self.python_nodes = 0
        self.jobgroup_s = 0.0
        self.frames: dict = {}  # registry query -> its last executed frame
        self.clock_offset = time.time() - time.perf_counter()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def timed(self, op_id: str, kind: str, fn):
        """Run one op under its own job group; returns (seconds, result),
        the result None when the op raised (a counted failure)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            t = time.perf_counter()
            sc.setJobGroup(f"pb{op_id}", kind)
            self.jobgroup_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            with self.tracer.in_op(op_id), self.tracer.span(kind, "op"):
                out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.fail(f"{op_id} {kind}: {type(e).__name__}: {str(e)[:200]}")
            out = None
        seconds = time.perf_counter() - t0
        if self.tracer.enabled:
            t = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.jobgroup_s += time.perf_counter() - t
        return seconds, out

    def run_query(self, name: str):
        from hive_gateway_spark import registry

        df = registry.QUERIES[name](self.spark, self.sf_dir)
        with self.tracer.span("execute", "spark"):
            df.write.format("noop").mode("overwrite").save()
        self.frames[name] = df
        return df

    def start(self) -> None:
        """Import the engine and its registry (once: an import runs once
        per process), then the cold start (JVM launch, first session,
        first ``load_tables``), then ``SETUP_REPS`` set-ups in that JVM,
        each a new session, its ``load_tables`` and, on rpc, a server
        start. ``setup_s`` is the CPU time of the import plus the median
        CPU time of a set-up: CPU the hypervisor steals is not counted,
        and the wall time of the same set-ups rose by half in a stolen
        stretch. The cold start is one sample, so it is reported apart."""
        import pyspark.sql  # noqa: F401 - Spark's own import is not the engine's

        t0, c0 = time.perf_counter(), tree_cpu_s()
        instrument.install(self.tracer)  # before registry.load_all() binds the names
        from hive_gateway_spark import registry, session

        registry.load_all()
        instrument.wrap_queries(self.tracer)
        import_cpu = tree_cpu_s() - c0
        self.details["import_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        session.load_tables(spark, self.sf_dir)
        self.details["cold_setup_s"] = time.perf_counter() - t0
        reps, cpus, loads = [], [], []
        for r in range(SETUP_REPS):
            if r:
                self.teardown_rep()
            spark.stop()  # the JVM stays up; the next session starts afresh
            t, c = time.perf_counter(), tree_cpu_s()
            spark = self.spark = session.get_spark("perfbench")
            t1 = time.perf_counter()
            session.load_tables(spark, self.sf_dir)
            loads.append(time.perf_counter() - t1)
            self.setup_rep()
            cpus.append(tree_cpu_s() - c)
            reps.append(time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        self.details.update(import_cpu_s=import_cpu, setup_reps_s=reps, setup_reps_cpu_s=cpus,
                            load_tables_s=loads)
        self.setup_s = import_cpu + median(cpus)

    def setup_rep(self) -> None:
        pass

    def teardown_rep(self) -> None:
        pass

    def window_opens(self) -> None:
        full_gc(self.spark)  # every window starts from the same heap state
        self.cpu_at_window = tree_cpu_s()
        self.ticks_at_window = host_cpu_ticks()
        self.counters_at_window = dict(self.tracer.counters)
        if self.tracer.enabled:
            self.reader = StatusReader(self.spark)
            self.reader.wait_idle()
            self.exec_at_window = self.reader.last_execution_id()

    def window_closes(self) -> None:
        self.cpu_window_s = tree_cpu_s() - self.cpu_at_window
        steal, total = (b - a for a, b in zip(self.ticks_at_window, host_cpu_ticks()))
        self.details["host_steal_share"] = steal / total if total else 0.0
        self.memory_mb = memory_mb(self.spark)
        if self.tracer.enabled:
            self.reader.wait_idle()
            self.python_window = self.reader.python_metrics(after_id=self.exec_at_window)

    def measure(self) -> None:
        """Closed loop, one client: the cold pass, then whole passes over
        the op mix, as many as bring the window closest to ``--seconds``
        (at least one): a partial pass would change the mix by seed."""
        t = time.perf_counter()
        cold = self.details["cold_ops_s"] = {}
        for i, op in enumerate(pass_ops(self.workload, self.args.seed, 0)):
            cold[op[-1] if op[0] == "query" else op[0]] = self.do_op(f"c{i}", op)[0]
        self.cold_pass_s = time.perf_counter() - t
        self.window_opens()
        start = time.perf_counter()
        elapsed = 0.0
        while not self.passes or elapsed + elapsed / self.passes / 2 < self.args.seconds:
            self.passes += 1
            for op in pass_ops(self.workload, self.args.seed, self.passes):
                op_id = f"w{len(self.window_ops)}"
                seconds, _ = self.do_op(op_id, op)
                self.kinds.append(op[-1] if op[0] == "query" else op[0])
                self.latencies.append(seconds)
                self.window_ops.append(op_id)
            elapsed = time.perf_counter() - start
        self.window = (start, time.perf_counter())
        self.window_closes()

    def e2e(self) -> dict:
        """The bounded metrics; wall-clock figures go to the report.
        Closed-loop ``latency_p50_ms`` is the geometric mean over op kinds
        of each kind's median. The plain median of a pass of unlike ops is
        whichever kind lands in the middle, which changes with the seed;
        in this fixed combination a relative change of any one kind moves
        the figure by the same share."""
        by_kind: dict[str, list[float]] = {}
        for kind, s in zip(self.kinds, self.latencies):
            by_kind.setdefault(kind, []).append(s)
        p50 = self.details["latency_p50_ms_by_kind"] = {k: 1000 * median(v) for k, v in by_kind.items()}
        self.details["latency_p50_ms"] = geomean(list(p50.values()))
        self.details["cold_pass_s"] = self.cold_pass_s
        self.details["ops_per_min"] = 60.0 * len(self.latencies) / sum(self.latencies)
        return {
            "setup_s": (self.setup_s, "s"),
            "cpu_ms_per_op": (1000.0 * self.cpu_window_s / len(self.latencies), "ms"),
            "memory_mb": (self.memory_mb, "MB"),
        }

    def stop(self) -> None:
        pass


class Analytics(Run):
    workload = "analytics"

    def do_op(self, op_id, op):
        return self.timed(op_id, op[1], lambda: self.run_query(op[1]))

    def check(self) -> None:
        """Every query hash-matches its DuckDB oracle and plans no
        Python-worker node."""
        from hive_gateway_spark import registry
        from hive_gateway_spark.session import TABLES

        for name in ANALYTICS:
            df = self.frames[name]
            err = parity_error(df.toPandas(), oracle_frame(registry.ORACLES[name], self.sf_dir, TABLES))
            if err:
                self.fail(f"{name}: oracle mismatch: {err}")
            self.python_nodes += python_nodes(df)


class Curation(Run):
    workload = "curation"

    def measure(self) -> None:
        """Publish the base corpus version with its Bloom index and fork
        the replica from it by copying its immutable files; then the
        closed loop. Published once, not per set-up repetition, to keep a
        run short; the window's publishes carry its warm cost."""
        from hive_gateway_spark.pipeline import CurationPipeline
        from hive_gateway_spark.session import load_tables
        from hive_gateway_spark.sources import dataset_export as de

        self.main = os.path.join(self.run_dir, "lake", "main")
        self.replica = os.path.join(self.run_dir, "lake", "replica")
        docs = load_tables(self.spark, self.sf_dir)["documents"]
        t = time.perf_counter()
        (
            CurationPipeline(self.spark)
            .from_frame(docs.filter(f"doc_id < {BASE_DOCS}").select("doc_id", "lang", "text"))
            .gate_tokens(10, 512)
            .dedup_exact()
            .export(self.main)
        )
        de.build_bloom_index(self.spark, self.main, "doc_id")
        shutil.copytree(self.main, self.replica)
        self.details["base_publish_s"] = time.perf_counter() - t
        self.synced = 1
        self.points: list[tuple] = []
        self.publish_s: list[float] = []
        self.point_s: list[float] = []
        self.user_bytes = self.written_bytes = 0
        self.files_opened = self.files_total = 0
        super().measure()

    def do_op(self, op_id, op):
        from hive_gateway_spark.sources import dataset_export as de

        kind = op[0]
        if kind == "query":
            return self.timed(op_id, op[1], lambda: self.run_query(op[1]))
        if kind == "publish":
            return self.publish(op_id, *op[1:])
        if kind == "delete":
            return self.timed(op_id, "delete",
                              lambda: de.delete_dataset(self.spark, self.main, "doc_id", op[1], op[2]))
        if kind == "diff":
            return self.replicate(op_id)
        return self.point(op_id, op[1])

    def publish(self, op_id: str, s: int, p: int):
        """Curate one seeded slice as a new corpus version: pipeline run,
        append, Bloom index rebuild."""
        from hive_gateway_spark.pipeline import CurationPipeline
        from hive_gateway_spark.session import load_tables
        from hive_gateway_spark.sources import dataset_export as de
        from pyspark.sql import functions as F

        lo, hi = slice_bounds(s)
        batch = load_tables(self.spark, self.sf_dir)["documents"].filter(
            f"doc_id >= {lo} AND doc_id < {hi}"
        ).select((F.col("doc_id") + (p + 1) * ID_STRIDE).alias("doc_id"), "lang", "text")
        before = dir_bytes(self.main) if self.tracer.enabled else 0

        def publish():
            pipe = CurationPipeline(self.spark).from_frame(batch).gate_tokens(10, 512).dedup_exact()
            pipe.run()
            m = pipe.append_to(self.main)
            de.build_bloom_index(self.spark, self.main, "doc_id")
            return m

        seconds, m = self.timed(op_id, "publish", publish)
        if m is not None and self.tracer.enabled:
            self.written_bytes += dir_bytes(self.main) - before
            v = m["version"]
            added = snapshot_rows(self.main, v) - snapshot_rows(self.main, v - 1)
            self.user_bytes += sum(len(t.encode()) + 16 for _, t in added)
        if op_id.startswith("w"):
            self.publish_s.append(seconds)
        return seconds, m

    def replicate(self, op_id: str):
        """Change feed from the replica's last synced version to the head,
        applied to the replica."""
        from hive_gateway_spark.sources import dataset_export as de

        head = head_version(self.main)

        def replicate():
            diff = de.snapshot_diff(self.spark, self.main, self.synced, head, "doc_id").localCheckpoint()
            return de.apply_diff(diff, self.replica, "doc_id")

        seconds, out = self.timed(op_id, "diff", replicate)
        if out is not None:
            self.synced = head
        return seconds, out

    def point(self, op_id: str, key: int):
        from hive_gateway_spark.sources import dataset_export as de

        version = head_version(self.main)
        seconds, rows = self.timed(
            op_id, "point",
            lambda: de.read_snapshot(self.spark, self.main, point=("doc_id", key)).collect())
        if rows is not None:
            self.points.append((key, version, {(r["doc_id"], r["text"]) for r in rows}))
        if self.tracer.enabled:
            df = de.read_snapshot(self.spark, self.main, point=("doc_id", key))
            self.files_opened += len(df.inputFiles())
            self.files_total += len(manifest(self.main, version)["files"])
        if op_id.startswith("w"):
            self.point_s.append(seconds)
        return seconds, rows

    def check(self) -> None:
        """Point reads returned exactly the keyed rows of the version they
        read; the replica holds exactly the source version it last
        replicated; both verify."""
        from hive_gateway_spark.sources import dataset_export as de

        self.details["point_reads_with_rows"] = sum(1 for *_, got in self.points if got)
        for key, version, got in self.points:
            want = snapshot_rows(self.main, version, key)
            if got != want:
                self.fail(f"point read doc_id={key} v{version}: {len(got)} rows, want {len(want)}")
        if snapshot_rows(self.replica, head_version(self.replica)) != snapshot_rows(self.main, self.synced):
            self.fail(f"replica differs from source v{self.synced} after apply_diff")
        for path in (self.main, self.replica):
            if not de.verify_dataset(self.spark, path)["ok"]:
                self.fail(f"verify_dataset failed on {os.path.basename(path)}")
        for name in CURATION:
            self.python_nodes += python_nodes(self.frames[name])

    def e2e(self) -> dict:
        self.details["version_publish_s"] = median(self.publish_s)
        self.details["point_read_ms"] = 1000 * median(self.point_s)
        return super().e2e()


class Rpc(Run):
    """Open loop: Poisson arrivals at ``RPC_RATE`` to one GatewayServer
    over at most ``CPUS`` keep-alive connections."""
    workload = "rpc"

    def setup_rep(self) -> None:
        from hive_gateway_spark.server import GatewayServer

        self.server = GatewayServer(self.spark, self.sf_dir, enable_sql=True).start()
        self.answers: list[tuple] = []

    def teardown_rep(self) -> None:
        self.server.stop()  # outside the timed set-up: shutdown polls every 0.5 s

    def send(self, conn, req: dict, op_id: str):
        """One request; returns (ok, decoded answer or error) and never raises."""
        from hive_gateway_spark.functions.msgpack_codec import packb, unpackb

        body = packb({"mod": req["mod"], "fun": req["fun"], "arg": req["arg"],
                      "ctx": {"wxuser": req["token"]}})
        headers = {"Accept-Encoding": req["encoding"], "X-PB-Op": op_id,
                   "X-PB-Sent": repr(time.perf_counter())}
        try:
            conn.request("POST", "/", body, headers)
            resp = conn.getresponse()
            data = resp.read()
            if resp.status != 200:
                return False, f"HTTP {resp.status}: {data[:80]!r}"
            enc = resp.getheader("Content-Encoding")
            if enc == "deflate":
                data = zlib.decompress(data)
            elif enc == "gzip":
                data = gzip.decompress(data)
            return True, unpackb(data)
        except Exception as e:  # noqa: BLE001 - a broken response is a counted failure
            conn.close()
            return False, f"{type(e).__name__}: {e}"

    def record(self, req, ok, detail, op_id) -> bool:
        """Keep a good answer for the checks; count a failed request now."""
        self.attempted += 1
        if not ok:
            self.fail(f"{op_id} {req['mod']}.{req['fun']}: {detail}")
            return False
        self.answers.append((req, detail))
        return True

    def measure(self) -> None:
        conns = [http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=60)
                 for _ in range(CPUS)]
        calls, warmup = rpc_cold_requests(self.args.seed)
        t = time.perf_counter()
        for i, req in enumerate(calls):
            self.record(req, *self.send(conns[0], req, f"c{i}"), f"c{i}")
        ids = [f"c{len(calls) + i}" for i in range(len(warmup))]
        t1 = time.perf_counter()
        outcomes, _ = run_open_loop(  # every request due at once: a closed loop
            [0.0] * len(warmup), lambda w, i: self.send(conns[w], warmup[i], ids[i]), len(conns))
        self.details["warmup_rps"] = len(warmup) / (time.perf_counter() - t1)
        for req, o, op_id in zip(warmup, outcomes, ids):
            self.record(req, o.ok, o.detail, op_id)
        self.cold_pass_s = time.perf_counter() - t

        offsets, reqs = rpc_plan(self.args.seed, RPC_RATE, self.args.seconds)
        self.window_ops = [f"w{i}" for i in range(len(reqs))]
        self.window_opens()
        start = time.perf_counter()
        outcomes, self.late = run_open_loop(
            offsets, lambda w, i: self.send(conns[w], reqs[i], self.window_ops[i]), len(conns))
        self.window = (start, max(o.done for o in outcomes))
        self.window_closes()
        for c in conns:
            c.close()
        self.good = sum(
            self.record(req, o.ok, o.detail, self.window_ops[i]) and o.latency <= RPC_LIMIT_S
            for i, (req, o) in enumerate(zip(reqs, outcomes))
        )
        self.latencies = [o.latency for o in outcomes]
        self.kinds = [r["kind"] for r in reqs]
        self.passes = 1

    def check(self) -> None:
        """Answers decode; point and range rows equal the fixture rows;
        aggregates have the columns and row count of direct execution;
        registry-query answers hash-match their DuckDB oracle; no Python
        worker was planned."""
        from hive_gateway_spark import registry
        from hive_gateway_spark.session import TABLES

        orders = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"),
                               columns=["o_orderkey", "o_custkey", "o_totalprice"]).to_pandas()
        orders = orders.set_index("o_orderkey")
        direct: dict[str, tuple] = {}
        for req, got in self.answers:
            kind = req["kind"]
            if kind == "catalog":
                ok = got == {"tables": list(TABLES)}
            elif kind in ("point", "range_rows"):
                lo = req["key"]
                keys = [lo] if kind == "point" else list(range(lo, lo + RANGE_ROWS))
                rows = [dict(zip(got["columns"], r)) for r in got["rows"]]
                ok = got["n"] == len(keys) and [r["o_orderkey"] for r in rows] == keys and all(
                    r["o_custkey"] == orders.at[r["o_orderkey"], "o_custkey"]
                    and r["o_totalprice"] == orders.at[r["o_orderkey"], "o_totalprice"]
                    for r in rows)
            elif kind == "range_agg":
                what = req["arg"]["sql"]
                if what not in direct:
                    df = self.spark.sql(what)
                    direct[what] = (df.columns, len(df.collect()))
                ok = (got["columns"], got["n"]) == direct[what]
            else:
                name = req["fun"]
                if name not in direct:
                    self.python_nodes += python_nodes(registry.QUERIES[name](self.spark, self.sf_dir))
                    direct[name] = oracle_frame(registry.ORACLES[name], self.sf_dir, TABLES)
                ok = answer_parity(got, direct[name]) is None
            if not ok:
                self.fail(f"{req['mod']}.{req['fun']} key={req.get('key')}: "
                          "answer differs from direct execution")

    def e2e(self) -> dict:
        """Latency is the median over the window's request blocks (12
        arrivals each, in arrival order, the same mix) of each block's
        median: a host hiccup over a few seconds of one block does not
        move it."""
        span = self.window[1] - self.window[0]
        p95 = tail(self.latencies, 0.95)
        self.details.update(
            goodput_rps=self.good / span,
            latency_p95_ms=None if p95 is None else 1000 * p95,
            rate_rps=RPC_RATE, latency_limit_s=RPC_LIMIT_S, requests=len(self.latencies),
        )
        out = super().e2e()
        n = len(RPC_BLOCK)
        blocks = [self.latencies[i:i + n] for i in range(0, len(self.latencies) - n + 1, n)]
        self.details["block_p50_ms"] = [1000.0 * median(b) for b in blocks]
        self.details["latency_p50_ms"] = median(self.details["block_p50_ms"])
        return out

    def stop(self) -> None:
        self.server.stop()


def answer_parity(got: dict, want) -> str | None:
    """An RPC answer against the DuckDB oracle frame, by the oracle
    check's rules. The wire carries timestamps as ISO strings, so
    columns the oracle holds as timestamps are parsed back first."""
    frame = pd.DataFrame(got["rows"], columns=got["columns"])
    for col in frame.columns:
        if col in want.columns and pd.api.types.is_datetime64_any_dtype(want[col]):
            frame[col] = pd.to_datetime(frame[col])
    return parity_error(frame, want)


def per_layer(run: Run, span_cost: float) -> dict:
    """Per-layer metrics over the warm window (see README.md)."""
    tr = run.tracer
    ops = set(run.window_ops)
    n_ops = max(1, len(ops))
    c0 = run.counters_at_window
    c = {k: v - c0.get(k, 0) for k, v in tr.counters.items()}
    groups = {g: js for g, js in run.reader.jobs_by_group("pb").items() if g[2:] in ops}
    instrument.add_job_spans(tr, groups, run.clock_offset)
    spans = [s for s in tr.spans if s[6] in ops]
    jobs = [j for js in groups.values() for j in js]

    def mean_ms(name: str) -> float:
        ds = [s[4] - s[3] for s in spans if s[1] == name]
        return 1000 * sum(ds) / len(ds) if ds else 0.0

    def per_op(key: str, scale: float = 1.0) -> float:
        return sum(j[key] for j in jobs) * scale / n_ops

    gaps = []
    for s in spans:
        if s[1] in ("execute", "server.dispatch"):
            own = [(max(j["start"] - run.clock_offset, s[3]), min(j["end"] - run.clock_offset, s[4]))
                   for j in groups.get(f"pb{s[6]}", [])]
            gaps.append((s[4] - s[3]) - union_length([iv for iv in own if iv[1] > iv[0]]))
    lookups = c.get("staging.lookups", 0)
    comp_in = c.get("server.compressed_in", 0)
    requests = c.get("server.requests", 0)
    user_bytes = getattr(run, "user_bytes", 0)
    files_total = getattr(run, "files_total", 0)
    n_spans = len([s for s in spans if s[1] != "spark.job"])
    out = {
        "session.load_tables_ms": (1000 * median(run.details["load_tables_s"]), "ms"),
        "operators.construct_ms": (mean_ms("construct"), "ms"),
        "spark.driver_gap_ms": (1000 * sum(gaps) / len(gaps) if gaps else 0.0, "ms"),
        "spark.jobs": (len(jobs) / n_ops, "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.executor_run_ms": (per_op("run_ms"), "ms"),
        "spark.executor_cpu_ms": (per_op("cpu_ns", 1e-6), "ms"),
        "spark.gc_ms": (per_op("gc_ms"), "ms"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read"), "B"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write"), "B"),
        "spark.spill_bytes": (per_op("spill"), "B"),
        "functions.python_nodes": (run.python_nodes, "count"),
        "functions.python_ms": (1000 * run.python_window["python_s"] / n_ops, "ms"),
        "functions.python_bytes": (run.python_window["python_bytes"] / n_ops, "B"),
        "staging.calls": (instrument.staging_calls(c), "count"),
        "staging.hits": (c.get("staging.hits", 0), "count"),
        "staging.hit_ratio": (c.get("staging.hits", 0) / lookups if lookups else 0.0, "ratio"),
        "staging.build_ms": (1000 * c.get("staging.build_s", 0), "ms"),
        "staging.evictions": (c.get("staging.evictions", 0), "count"),
        "dataset_export.append_ms": (mean_ms("dataset_export.append_dataset"), "ms"),
        "dataset_export.delete_ms": (mean_ms("dataset_export.delete_dataset"), "ms"),
        "dataset_export.apply_diff_ms": (mean_ms("dataset_export.apply_diff"), "ms"),
        "dataset_export.bloom_build_ms": (mean_ms("dataset_export.build_bloom_index"), "ms"),
        "dataset_export.bytes_written_per_user_byte": (
            run.written_bytes / user_bytes if user_bytes else 0.0, "ratio"),
        "dataset_export.point_read_ms": (mean_ms("point"), "ms"),
        "dataset_export.files_opened_ratio": (
            run.files_opened / files_total if files_total else 0.0, "ratio"),
        "pipeline.run_ms": (mean_ms("pipeline.run"), "ms"),
        "server.queue_ms": (1000 * c.get("server.queue_s", 0) / requests if requests else 0.0, "ms"),
        "server.dispatch_ms": (mean_ms("server.dispatch"), "ms"),
        "server.negotiate_ms": (mean_ms("server.negotiate"), "ms"),
        "server.compressed_ratio": (c.get("server.compressed_out", 0) / comp_in if comp_in else 0.0, "ratio"),
        "server.log_entries": (len(run.server.log) if isinstance(run, Rpc) else 0, "count"),
        "msgpack_codec.pack_ms": (mean_ms("msgpack_codec.packb"), "ms"),
        "msgpack_codec.unpack_ms": (mean_ms("msgpack_codec.unpackb"), "ms"),
        "loadgen.late_ms": (1000 * max(getattr(run, "late", None) or [0.0]), "ms"),
        "trace.overhead": ((n_spans * span_cost + run.jobgroup_s) / (run.window[1] - run.window[0]), "ratio"),
    }
    layers = self_time_by_layer(spans)
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = (1000 * layers.get(layer, 0.0) / n_ops, "ms")
    return out


def span_cost() -> float:
    """Seconds one span costs, timed on a throwaway tracer."""
    t, n = Tracer(enabled=True), 5000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x", "x"):
            pass
    return (time.perf_counter() - t0) / n


def bypass_failures(workload: str, run: Run, counters) -> list[str]:
    """A workload that drifts into a layer it claims to bypass measures
    something else; flag it instead."""
    out = []
    if workload in ("analytics", "rpc") and run.python_nodes:
        out.append(f"{workload} planned {run.python_nodes} Python-worker nodes")
    if workload in ("analytics", "rpc") and instrument.staging_calls(counters):
        out.append(f"{workload} made {instrument.staging_calls(counters)} staging calls")
    if workload == "rpc" and instrument.dataset_calls(counters):
        out.append(f"rpc made {instrument.dataset_calls(counters)} dataset_export calls")
    return out


def stop_spark(spark) -> None:
    """Stop the context, then the py4j JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def versions() -> dict:
    import pyspark

    def first_line(cmd):
        try:
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=30)
        except (OSError, subprocess.SubprocessError):
            return None
        return ((out.stdout or out.stderr).strip().splitlines() or [None])[0]

    return {"pyspark": pyspark.__version__, "java": first_line(["java", "-version"]),
            "git_sha": first_line(["git", "rev-parse", "HEAD"])}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=("analytics", "curation", "rpc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_gateway_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures-sf0.1"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    hermetic_env(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    run = {"analytics": Analytics, "curation": Curation, "rpc": Rpc}[args.workload](
        args, tracer, sf_dir, run_dir)
    phases = run.details["phase_s"] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now
        print(f"perfbench: {name} {phases[name]:.1f}s rss={tree_rss() / 2**20:.0f}MB",
              file=sys.stderr, flush=True)

    try:
        run.start()
        phase("setup")
        if args.workload == "rpc":
            instrument.server_hooks(tracer, run.server)
        run.measure()
        phase("measure")
        run.check()
        phase("check")
        for f in bypass_failures(args.workload, run, tracer.counters):
            run.fail(f)
        layer_metrics = per_layer(run, span_cost()) if tracer.enabled else None
        run.details["peak_rss_mb"] = tree_peak_rss_mb()
        run.stop()
        if tracer.enabled:
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        stop_spark(run.spark)
        metrics = run.e2e()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(run.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "driver_memory": DRIVER_MEMORY,
        "fixture_seed": fixtures.FIXTURE_SEED, **versions(),
        "passes": run.passes, "window_ops": len(run.window_ops),
        "error_share": failed / max(1, run.attempted), "failures": run.failures[:20],
        "end_to_end": {k: v for k, (v, _) in metrics.items()}, **run.details,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (layer_metrics or metrics).items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
