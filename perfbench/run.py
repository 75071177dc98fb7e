#!/usr/bin/env python3
"""The engine benchmark: one command, two workloads, a traced mode.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones.  Everything the run writes stays under ``.perfbench_work/``
(deleted at exit) and ``.perfbench_out/`` (the traced run's spans).
See perfbench/README.md for what each workload and metric means.
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
import threading
import time
import traceback
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

WORKLOADS = ("batch_headline", "stream_open_loop")
END_TO_END = {"setup_s": "s", "latency_s_p50": "s", "latency_s_mean": "s"}
PER_LAYER = {
    "memory.rss_peak_mb": "MB",
    "session.start_s": "s", "registry.load_s": "s",
    "sources.table_calls": "count", "sources.table_s": "s", "sources.jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.py4j_calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.run_s": "s", "executor.jobs": "count", "executor.stages": "count",
    "executor.tasks": "count", "executor.task_run_s": "s",
    "executor.cores_busy": "cores", "executor.shuffle_bytes": "bytes",
    "executor.spill_bytes": "bytes", "executor.gc_s": "s", "executor.input_rows": "rows",
    "executor.local1_pass_s": "s", "executor.speedup_vs_local1": "ratio",
    "streaming.triggers": "count", "streaming.empty_triggers": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes", "streaming.late_rows_dropped": "rows",
    "streaming.backlog_files": "count", "streaming.processed_frac": "ratio",
    "streaming.event_to_result_s_p90": "s", "generator.late_s_max": "s",
    "trace.unaccounted_frac": "ratio", "trace.overhead_frac": "ratio",
}

# Open-loop stream: the generator's schedule (gen.STREAM_RATE events/s, one
# file every gen.STREAM_TICK_S), a processing-time trigger, and WARMUP_S
# seconds of traffic before the measured window so cold triggers stay out.
TRIGGER = "1 second"
WARMUP_S = 20.0
# Bounds on every wait the benchmark makes; a wait that runs out is a
# failed operation, not a hang.
WAIT_FIRST_TRIGGER_S = 90.0
WAIT_DRAIN_S = 60.0
STOP_TIMEOUT_MS = 30_000
LOCAL1_TIMEOUT_S = 150.0


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# Engine session lifetime
# ---------------------------------------------------------------------------

class Engine:
    """Starts the engine's session with every scratch path inside the
    work directory, and stops it and its JVM on ``close``."""

    def __init__(self, work: Path, cpus: int):
        for sub in ("tmp", "spark-local", "warehouse"):
            (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        for key in ("SPARK_MASTER", "SPARK_GRAFT_STATE_PARTITIONS"):
            os.environ.pop(key, None)
        self.spark = None
        self.jvm = None

    def start(self):
        from kafka_stream_processing_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def rss_peak_mb(self) -> float:
        rss = vm_hwm_mb("self")
        if self.jvm is not None and self.jvm.poll() is None:
            rss += vm_hwm_mb(self.jvm.pid)
        return rss

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        except Exception:  # keep going: the JVM must still be stopped
            traceback.print_exc()
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        self.spark = None
        if self.jvm is not None:
            try:
                self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                self.jvm.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                self.jvm.kill()
                self.jvm.wait()


class Outcome:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("FAILED:", problem)


# ---------------------------------------------------------------------------
# batch_headline
# ---------------------------------------------------------------------------

def run_batch(args, work: Path, out: Outcome) -> dict:
    data = work / "data"
    gen.write_tables(str(data), args.seed)
    t_setup = time.perf_counter()
    engine = Engine(work, cpus=_nproc())
    try:
        spark = engine.start()
        session_s = time.perf_counter() - t_setup

        from spans import Tracer

        tracer = Tracer(spark)
        if args.trace:
            from kafka_stream_processing_spark.sources import tables

            tables.table = tracer.wrap_table(tables.table)
            tracer.install_py4j_counter()
        t = time.perf_counter()
        from kafka_stream_processing_spark import registry

        specs = registry.all_specs()
        names = registry.headline_names()
        registry_s = time.perf_counter() - t

        # Two untimed warm passes: the first collects the results the oracle
        # check reads; the second lets pass time settle, as it still falls
        # by ~20% from the first timed pass to the second after one warm pass.
        results = {}
        for name in names:
            try:
                results[name] = specs[name].fn(spark, str(data)).toPandas()
                out.op(True)
            except Exception as exc:  # one failed query must not stop the run
                out.op(False, f"{name}: warm pass raised {exc!r}")
        for name in results:
            specs[name].fn(spark, str(data)).count()
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, registry {registry_s:.2f}s)")

        def one_pass(p: int, traced: bool) -> tuple[float, list[float]]:
            lat = []
            tp = time.perf_counter()
            for name in names:
                t = time.perf_counter()
                try:
                    if traced:
                        n = _traced_query(tracer, specs[name].fn, spark, str(data),
                                          f"p{p}.{name}")
                    else:
                        n = specs[name].fn(spark, str(data)).count()
                    lat.append(time.perf_counter() - t)
                    want = len(results[name]) if name in results else n
                    out.op(n == want, f"{name}: count {n} != checked result rows {want}")
                except Exception as exc:
                    out.op(False, f"{name}: pass {p} raised {exc!r}")
            return time.perf_counter() - tp, lat

        # Timed passes until --seconds have elapsed, and at least three: pass
        # time still falls from one timed pass to the next, so a slow run that
        # stopped after two would measure only the slower early passes.  The
        # traced run orders its passes untraced, traced, traced, untraced, ...
        # and runs at least two of each, so the trend favours neither side.
        walls: dict[bool, list[float]] = {False: [], True: []}
        lats: list[float] = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < args.seconds
               or len(walls[False]) < 3 - args.trace or len(walls[True]) < 2 * args.trace):
            p = len(walls[False]) + len(walls[True])
            traced = bool(args.trace) and p % 4 in (1, 2)
            tracer.active = traced
            with tracer.span("pass", request=f"pass{p}"):
                wall, lat = one_pass(p, traced)
            tracer.active = False
            walls[traced].append(wall)
            if not traced:
                lats.extend(lat)
        plain = walls[False]
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "latency_s_p50": statistics.median(lats),
                "latency_s_mean": statistics.mean(lats),
            }
            log(f"{len(plain)} passes {[round(w, 3) for w in plain]}, {len(lats)} queries")
        else:
            metrics = _batch_layers(tracer, walls[True], plain, session_s, registry_s)
            metrics["memory.rss_peak_mb"] = engine.rss_peak_mb()
        _check_batch(specs, names, results, str(data), out)
        if args.trace:
            engine.close()
            local1 = _local1_pass(data, out)
            metrics["executor.local1_pass_s"] = local1
            metrics["executor.speedup_vs_local1"] = (
                local1 / statistics.median(plain) if local1 else 0.0
            )
            _write_trace(args, tracer, {"per_query": _per_query(tracer)})
        return metrics
    finally:
        engine.close()


def _traced_query(tracer, fn, spark, data: str, req: str) -> int:
    """One query execution split into the layers' spans.  ``groupBy().count()``
    is the plan ``DataFrame.count`` runs; planning it explicitly first lets
    the catalyst span read the tracker of the very plan the executor runs."""
    with tracer.span("query", request=req):
        group = f"b-{req}"
        with tracer.span("operators", group=group) as sp, tracer.job_group(group):
            before = tracer.py4j_calls
            tracer.count_py4j(True)
            try:
                df = fn(spark, data)
            finally:
                tracer.count_py4j(False)
            tracer.spans[sp.idx].attrs["py4j_calls"] = tracer.py4j_calls - before
        cdf = df.groupBy().count()
        from spans import catalyst_phases_ms

        with tracer.span("catalyst") as sp:
            tracer.spans[sp.idx].attrs.update(catalyst_phases_ms(cdf._jdf))
        group = f"x-{req}"
        with tracer.span("executor", group=group), tracer.job_group(group):
            return cdf.collect()[0][0]


def _attach_group_stats(tracer) -> None:
    if not tracer.drain_listener_bus():
        log("listener bus did not drain; stage metrics may be partial")
    for s in tracer.spans:
        if "group" in s.attrs:
            s.attrs["stats"] = tracer.group_stats(s.attrs["group"])


def _batch_layers(tracer, traced: list[float], plain: list[float],
                  session_s: float, registry_s: float) -> dict:
    _attach_group_stats(tracer)
    n = len(traced)
    by = lambda name: [(i, s) for i, s in enumerate(tracer.spans) if s.name == name]  # noqa: E731
    dur = lambda s: s.end - s.start  # noqa: E731
    src, ops = by("sources"), by("operators")
    cat, exe = by("catalyst"), by("executor")
    ops_self = sum(tracer.self_time(i) for i, _ in ops)
    src_s = sum(dur(s) for _, s in src)
    cat_s = sum(dur(s) for _, s in cat)
    exe_s = sum(dur(s) for _, s in exe)
    xs = lambda key: sum(s.attrs["stats"][key] for _, s in exe)  # noqa: E731
    wall = sum(dur(s) for s in tracer.spans if s.name == "pass")
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({
        "session.start_s": session_s,
        "registry.load_s": registry_s,
        "sources.table_calls": len(src) / n,
        "sources.table_s": src_s / n,
        "sources.jobs": sum(s.attrs["stats"]["jobs"] for _, s in src) / n,
        "operators.build_s": ops_self / n,
        "operators.build_jobs": sum(s.attrs["stats"]["jobs"] for _, s in ops) / n,
        "operators.py4j_calls": sum(s.attrs["py4j_calls"] for _, s in ops) / n,
        "catalyst.analysis_ms": sum(s.attrs["analysis"] for _, s in cat) / n,
        "catalyst.optimization_ms": sum(s.attrs["optimization"] for _, s in cat) / n,
        "catalyst.planning_ms": sum(s.attrs["planning"] for _, s in cat) / n,
        "executor.run_s": exe_s / n,
        "executor.jobs": xs("jobs") / n,
        "executor.stages": xs("stages") / n,
        "executor.tasks": xs("tasks") / n,
        "executor.task_run_s": xs("task_run_s") / n,
        "executor.cores_busy": xs("task_run_s") / exe_s,
        "executor.shuffle_bytes": xs("shuffle_bytes") / n,
        "executor.spill_bytes": xs("spill_bytes") / n,
        "executor.gc_s": xs("gc_s") / n,
        "executor.input_rows": xs("input_rows") / n,
        "trace.unaccounted_frac": (wall - ops_self - src_s - cat_s - exe_s) / wall,
        "trace.overhead_frac": statistics.median(traced) / statistics.median(plain) - 1,
    })
    return metrics


def _per_query(tracer) -> dict:
    rows = {}
    for i, s in enumerate(tracer.spans):
        if s.name != "query":
            continue
        name = s.request.split(".", 1)[1]
        kids = {c.name: (j, c) for j, c in enumerate(tracer.spans) if c.parent == i}
        row = rows.setdefault(name, {"n": 0, "wall_s": 0.0, "build_self_s": 0.0,
                                     "sources_s": 0.0, "catalyst_s": 0.0,
                                     "executor_s": 0.0, "task_run_s": 0.0,
                                     "sources_jobs": 0, "tasks": 0})
        j, ops = kids["operators"]
        srcs = [c for c in tracer.spans if c.parent == j]
        row["n"] += 1
        row["wall_s"] += s.end - s.start
        row["build_self_s"] += tracer.self_time(j)
        row["sources_s"] += sum(c.end - c.start for c in srcs)
        row["sources_jobs"] += sum(c.attrs["stats"]["jobs"] for c in srcs)
        cat, exe = kids["catalyst"][1], kids["executor"][1]
        row["catalyst_s"] += cat.end - cat.start
        row["executor_s"] += exe.end - exe.start
        row["task_run_s"] += exe.attrs["stats"]["task_run_s"]
        row["tasks"] += exe.attrs["stats"]["tasks"]
    for name, row in rows.items():
        k = row.pop("n")
        for key in row:
            row[key] /= k
        row["cores_busy"] = row["task_run_s"] / row["executor_s"]
        log(f"{name:34s} " + " ".join(f"{k}={v:.3f}" for k, v in row.items()))
    return rows


def _check_batch(specs, names, results, data: str, out: Outcome) -> None:
    from tests.oracle_util import compare_frames, duckdb_connection

    with duckdb_connection(data) as con:
        for name in names:
            if name not in results:
                continue
            expected = con.execute(specs[name].oracle).fetchdf()
            problems = compare_frames(results[name], expected, name)
            out.op(not problems, "; ".join(problems))


def _local1_pass(data: Path, out: Outcome) -> float:
    """Two warm passes, then one timed pass, on ``local[1]`` in a child
    process."""
    cmd = [sys.executable, __file__, "--local1-pass", str(data)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True,
                            cwd=str(ROOT), text=True)
    try:
        stdout, _ = proc.communicate(timeout=LOCAL1_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        out.op(False, f"local[1] pass exceeded {LOCAL1_TIMEOUT_S}s")
        return 0.0
    ok = proc.returncode == 0 and stdout.strip()
    out.op(bool(ok), f"local[1] pass exited {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])["pass_s"] if ok else 0.0


def local1_main(data: str) -> None:
    work = Path(data).parent / "local1"
    engine = Engine(work, cpus=1)
    try:
        spark = engine.start()
        from kafka_stream_processing_spark import registry

        specs = registry.all_specs()
        names = registry.headline_names()
        for _ in range(2):  # the same two warm passes as run_batch
            for name in names:
                specs[name].fn(spark, data).count()
        t = time.perf_counter()
        for name in names:
            specs[name].fn(spark, data).count()
        print(json.dumps({"pass_s": time.perf_counter() - t}), flush=True)
    finally:
        engine.close()


# ---------------------------------------------------------------------------
# stream_open_loop
# ---------------------------------------------------------------------------

class Generator(threading.Thread):
    """Publishes one seeded event file per tick on a fixed schedule: written
    aside, then renamed into the watched directory.  The schedule never
    waits for the stream."""

    def __init__(self, plan: gen.StreamPlan, stage: Path, inbox: Path, start_at: float):
        super().__init__(daemon=True)
        self.plan, self.stage, self.inbox = plan, stage, inbox
        self.start_at = start_at
        self.stop_flag = threading.Event()
        self.files: list[dict] = []  # index, due, published, rows, late
        self.tables = []
        self.error: BaseException | None = None

    def run(self) -> None:
        import pyarrow.parquet as pq

        try:
            k = 1
            while not self.stop_flag.is_set():
                due = self.start_at + k * gen.STREAM_TICK_S
                delay = due - time.time()
                if delay > 0 and self.stop_flag.wait(delay):
                    break
                table, late = self.plan.batch(k, int(due * 1e6))
                name = f"{k:06d}.parquet"
                pq.write_table(table, self.stage / name)
                os.replace(self.stage / name, self.inbox / name)
                self.files.append(dict(index=k, name=name, due=due,
                                       published=time.time(), rows=table.num_rows,
                                       late=int(late.sum())))
                self.tables.append(table.filter(~late))
                k += 1
        except BaseException as exc:  # reported by the main thread
            self.error = exc


def _offsets_done(progress: dict[int, dict]) -> dict[int, float]:
    """Source log offset -> end time of the trigger that consumed it.  The
    source's offsets are not query batch ids: a no-data trigger advances
    the batch id and consumes no offset."""
    done = {}
    for p in progress.values():
        src = p["sources"][0]
        start = (src.get("startOffset") or {}).get("logOffset", -1)
        end = (src.get("endOffset") or {}).get("logOffset", -1)
        for offset in range(start + 1, end + 1):
            done[offset] = _progress_end(p)
    return done


def _progress_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def _source_log(ckpt: Path) -> dict[str, int]:
    """File name -> the file source's own log offset, from its metadata log."""
    out = {}
    log_dir = ckpt / "sources" / "0"
    for entry in sorted(os.listdir(log_dir)):
        if entry.startswith("."):
            continue
        with open(log_dir / entry) as fh:
            for line in fh.read().splitlines()[1:]:
                rec = json.loads(line)
                out[rec["path"].rsplit("/", 1)[-1]] = rec["batchId"]
    return out


def run_stream(args, work: Path, out: Outcome) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    plan = gen.StreamPlan(args.seed)
    dirs = {k: work / k for k in ("inbox", "stage", "primer", "sink", "ckpt")}
    for k in ("inbox", "stage", "primer"):
        dirs[k].mkdir(parents=True)
    t_setup = time.perf_counter()
    engine = Engine(work, cpus=_nproc())
    query = None
    gen_thread = None
    try:
        spark = engine.start()
        session_s = time.perf_counter() - t_setup
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.active = bool(args.trace)
        if args.trace:
            tracer.install_py4j_counter()
        t = time.perf_counter()
        from kafka_stream_processing_spark.sources import tables
        from kafka_stream_processing_spark.streaming.unique_users import (
            build_windowed_dedup,
            scoped_state_partitions,
        )

        registry_s = time.perf_counter() - t

        primer, _ = plan.batch(0, int(time.time() * 1e6), primer=True)
        pq.write_table(primer, dirs["primer"] / "events.parquet")
        pq.write_table(primer, dirs["inbox"] / "000000.parquet")
        spark.conf.set("spark.sql.streaming.stopTimeout", str(STOP_TIMEOUT_MS))
        with tracer.span("operators", request="build") as sp:
            tracer.count_py4j(True)
            # The raw schema, normalized after, as the engine's own
            # stream_unique_users_per_minute builds its stream.
            schema = spark.read.parquet(str(dirs["primer"])).schema
            stream = tables.normalize_events(
                spark.readStream.schema(schema).parquet(str(dirs["inbox"]))
            )
            with scoped_state_partitions(spark):
                query = (
                    build_windowed_dedup(stream).writeStream.format("parquet")
                    .option("path", str(dirs["sink"]))
                    .option("checkpointLocation", str(dirs["ckpt"]))
                    .outputMode("append")
                    .trigger(processingTime=TRIGGER)
                    .start()
                )
            tracer.count_py4j(False)
        if sp.idx is not None:
            tracer.spans[sp.idx].attrs["py4j_calls"] = tracer.py4j_calls
        tracer.active = False

        # Progress reports are read in bulk only once the measured window
        # has closed: reading them costs one py4j round-trip each, and the
        # query keeps the last 100, more than a run's ~50 triggers.
        progress: dict[int, dict] = {}

        def check_alive() -> None:
            exc = query.exception()
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")

        def read_progress() -> None:
            check_alive()
            for p in query.recentProgress:
                rec = json.loads(p.json)
                progress[rec["batchId"]] = rec

        deadline = time.time() + WAIT_FIRST_TRIGGER_S
        while query.lastProgress is None:
            if time.time() > deadline:
                raise TimeoutError("no first trigger within bound")
            time.sleep(0.05)
            check_alive()
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, import {registry_s:.2f}s)")

        gen_thread = Generator(plan, dirs["stage"], dirs["inbox"], time.time())
        gen_thread.start()
        t_meas = time.time() + WARMUP_S
        t_end = t_meas + args.seconds
        # The traced run listens during the middle half of the window only:
        # untraced, traced, traced, untraced quarters, so the warm-up trend
        # of trigger time favours neither side of the overhead comparison.
        traced_span = (t_meas + args.seconds / 4, t_end - args.seconds / 4)
        switches = list(traced_span) if args.trace else []
        listener = None
        while time.time() < t_end:
            nxt = min([t for t in switches if t > time.time()] + [t_end])
            time.sleep(min(1.0, max(0.0, nxt - time.time())))
            check_alive()
            if switches and time.time() >= switches[0]:
                switches.pop(0)
                if listener is None:
                    listener = _progress_listener()
                    spark.streams.addListener(listener)
                else:
                    spark.streams.removeListener(listener)
        read_progress()
        gen_thread.stop_flag.set()
        gen_thread.join(timeout=10)
        if gen_thread.is_alive() or gen_thread.error is not None:
            raise RuntimeError(f"generator did not stop cleanly: {gen_thread.error!r}")
        files = gen_thread.files
        logged, done = _source_log(dirs["ckpt"]), _offsets_done(progress)
        offered = [f for f in files if f["published"] <= t_end]
        consumed = [f for f in offered
                    if done.get(logged.get(f["name"]), float("inf")) <= t_end]

        # Drain: every published file must reach a completed trigger.
        deadline = time.time() + WAIT_DRAIN_S
        while True:
            logged, done = _source_log(dirs["ckpt"]), _offsets_done(progress)
            pending = [f for f in files if logged.get(f["name"]) not in done]
            if not pending or time.time() > deadline:
                break
            time.sleep(0.5)
            read_progress()
        for f in files:
            offset = logged.get(f["name"])
            out.op(offset in done, f"file {f['name']} not processed within {WAIT_DRAIN_S}s")
            if offset in done:
                f["result_at"] = done[offset]
        rss = engine.rss_peak_mb()
        try:
            query.stop()
            out.op(True)
        except Exception as exc:  # stopTimeout ran out
            out.op(False, f"stream stop raised {exc!r}")
        query = None

        measured = [f for f in files if t_meas <= f["due"] < t_end and "result_at" in f]
        lat = [f["result_at"] - f["due"] for f in measured]
        late_offered = sum(f["late"] for f in files)
        dropped = sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                      for p in progress.values() if p["stateOperators"])
        out.op(dropped == late_offered,
               f"watermark dropped {dropped} rows, generator sent {late_offered} late")
        on_time = pa.concat_tables([primer] + gen_thread.tables)
        _check_stream(spark, dirs["sink"], on_time, out)
        log(f"{len(files)} files, {len(measured)} measured, "
            f"backlog at end {len(offered) - len(consumed)}")

        if not args.trace:
            return {
                "setup_s": setup_s,
                "latency_s_p50": statistics.median(lat),
                "latency_s_mean": statistics.mean(lat),
            }
        in_span = lambda f: traced_span[0] <= f["due"] < traced_span[1]  # noqa: E731
        plain = [v for f, v in zip(measured, lat) if not in_span(f)]
        traced = [v for f, v in zip(measured, lat) if in_span(f)]
        metrics = _stream_layers(tracer, listener, traced_span)
        metrics.update({
            "memory.rss_peak_mb": rss,
            "session.start_s": session_s,
            "registry.load_s": registry_s,
            "streaming.backlog_files": len(offered) - len(consumed),
            "streaming.processed_frac": (sum(f["rows"] for f in consumed)
                                         / sum(f["rows"] for f in offered)),
            "streaming.event_to_result_s_p90": statistics.quantiles(
                lat, n=10, method="inclusive")[-1],
            "generator.late_s_max": max(f["published"] - f["due"] for f in files),
            "trace.overhead_frac": statistics.median(traced) / statistics.median(plain) - 1,
        })
        _write_trace(args, tracer, {"progress": listener.events, "files": files})
        return metrics
    finally:
        if gen_thread is not None:
            gen_thread.stop_flag.set()
            gen_thread.join(timeout=10)
        if query is not None:
            try:
                query.stop()
            except Exception:
                traceback.print_exc()
        engine.close()


def _progress_listener():
    """A Python StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _stream_layers(tracer, listener, span: tuple[float, float]) -> dict:
    """Per-layer figures of the traced half of the stream; trigger phases
    come from the listener's progress reports, executor figures from every
    job the query submitted within ``span`` (epoch seconds), per trigger."""
    events = sorted(listener.events, key=lambda p: p["batchId"])
    busy = [p for p in events if p["numInputRows"] > 0]
    med = lambda key: statistics.median(p["durationMs"].get(key, 0) for p in busy)  # noqa: E731
    state = [p["stateOperators"][0] for p in busy if p["stateOperators"]]
    _attach_group_stats(tracer)
    stats = tracer.group_stats(events[-1]["runId"], *span)
    per = lambda key: stats[key] / len(events)  # noqa: E731
    ops = [(i, s) for i, s in enumerate(tracer.spans) if s.name == "operators"]
    parts = ("addBatch", "commitOffsets", "getBatch", "latestOffset", "queryPlanning",
             "walCommit")
    trig_ms = sum(p["durationMs"]["triggerExecution"] for p in busy)
    covered_ms = sum(p["durationMs"].get(k, 0) for p in busy for k in parts)
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update({
        "operators.build_s": sum(tracer.self_time(i) for i, _ in ops),
        "operators.py4j_calls": float(sum(s.attrs["py4j_calls"] for _, s in ops)),
        # Incremental executions keep no planning tracker; the trigger's
        # queryPlanning phase is the catalyst work of each micro-batch.
        "catalyst.planning_ms": med("queryPlanning"),
        "executor.run_s": per("job_s"),
        "executor.jobs": per("jobs"),
        "executor.stages": per("stages"),
        "executor.tasks": per("tasks"),
        "executor.task_run_s": per("task_run_s"),
        "executor.cores_busy": stats["task_run_s"] / max(stats["job_s"], 1e-9),
        "executor.shuffle_bytes": per("shuffle_bytes"),
        "executor.spill_bytes": per("spill_bytes"),
        "executor.gc_s": per("gc_s"),
        "executor.input_rows": per("input_rows"),
        "streaming.triggers": float(len(events)),
        "streaming.empty_triggers": float(len(events) - len(busy)),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.state_commit_ms": statistics.median(s["commitTimeMs"] for s in state),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.state_rows": float(state[-1]["numRowsTotal"]),
        "streaming.state_bytes": float(state[-1]["memoryUsedBytes"]),
        "streaming.late_rows_dropped": float(sum(s["numRowsDroppedByWatermark"]
                                                 for s in state)),
        "trace.unaccounted_frac": (trig_ms - covered_ms) / trig_ms,
    })
    return metrics


def _check_stream(spark, sink: Path, on_time, out: Outcome) -> None:
    """The emitted (window, user) pairs must equal DuckDB's distinct pairs
    over the on-time events the generator published."""
    import duckdb
    from pyspark.sql import functions as F

    from tests.oracle_util import compare_frames

    actual = (spark.read.parquet(str(sink))
              .select(F.unix_micros("w.start").alias("w_us"), "user_id").toPandas())
    con = duckdb.connect()
    try:
        con.register("ev", on_time)
        expected = con.execute(
            "SELECT DISTINCT epoch_us(date_trunc('minute', ts)) AS w_us, user_id FROM ev"
        ).fetchdf()
    finally:
        con.close()
    problems = compare_frames(actual, expected, "stream_open_loop")
    out.op(not problems, "; ".join(problems))


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _write_trace(args, tracer, extra: dict) -> None:
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
    tracer.write(str(path), extra)
    log(f"spans written to {path.relative_to(ROOT)}")


def main() -> int:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--local1-pass", metavar="DATA_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()

    missing = [p for p in ("kafka_stream_processing_spark/registry.py",
                           "tests/oracle_util.py") if not (ROOT / p).is_file()]
    if missing:
        log("not a checkout of the engine; missing", ", ".join(missing))
        return 2
    if args.local1_pass:
        local1_main(args.local1_pass)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    # SIGTERM unwinds like an error, so the JVM and the work dir are cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    out = Outcome()
    try:
        runner = run_batch if args.workload == "batch_headline" else run_stream
        metrics = runner(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    log(f"failed_frac {out.failed / max(out.attempted, 1):.4f}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
