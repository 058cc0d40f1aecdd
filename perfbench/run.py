#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One run is: set-up (session launch,
then three timed session restarts with a fresh repack each), a first
(cold) pass in the fresh session, an untimed output check of every op,
then measured warm passes until ``--seconds`` have elapsed (at least
one). A pass runs every op of the workload once; the seed only permutes
op order within each pass. With ``--trace 1`` measured passes alternate
untraced and traced (at least plain, traced, plain) and the result carries the
per-layer metrics instead of the end-to-end ones.

Everything the run writes lives under ``.perfbench_runs/`` in the
checkout: TMPDIR, SPARK_LOCAL_DIRS, the working directory (so Spark's
warehouse and metastore land there too) and the pipeline's work dirs.
The run's own directory is removed at exit; traced runs leave their
spans in ``.perfbench_runs/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
RUNS = os.path.join(ROOT, ".perfbench_runs")

SETUP_SAMPLES = 3
#: the driver heap is committed and touched in full at launch: left to
#: grow, its size depends on GC timing, and peak memory varied by a
#: fifth from run to run (1 % with the heap fixed)
DRIVER_MEMORY = "2g"
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
}
MB = 1024 * 1024

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
    "written_mb": "MB",
    "ok_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from workloads import CORPUS_OPS, OLAP_OPS, STREAM_OPS, WORKLOADS

    m = {}
    for stage in (
        "sources.bronze.write_all",
        "sources.silver.load_all",
        "sources.silver.save_warehouse",
        "quality.run_checks",
    ):
        m[f"ingest.{stage}.s"] = "s"
        m[f"ingest.{stage}.jobs"] = "count"
    m["ingest.plans.gold.build_all.s"] = "s"
    m["ingest.pipeline.run_pipeline.self_s"] = "s"
    m["ingest.pipeline.run_pipeline.jobs"] = "count"
    m["ingest.pipeline.work_dir_mb"] = "MB"
    for op in STREAM_OPS:
        for k, unit in (
            ("s", "s"),
            ("jobs", "count"),
            ("triggers", "count"),
            ("add_batch_s", "s"),
            ("machinery_s", "s"),
            ("input_rows", "count"),
        ):
            m[f"ingest.{op}.{k}"] = unit
    m["ingest.pass.remainder_s"] = "s"
    for op in CORPUS_OPS:
        m[f"corpus.{op}.build_s"] = "s"
        m[f"corpus.{op}.drain_s"] = "s"
        m[f"corpus.{op}.jobs"] = "count"
    for memo in MEMOS:
        m[f"corpus.memo.{memo}"] = "count"
    for op in OLAP_OPS:
        m[f"olap.{op}.drain_s"] = "s"
    m["olap.jobs"] = "count"
    m["olap.tasks"] = "count"
    m["olap.plan_s"] = "s"
    for wl in WORKLOADS:
        m[f"{wl}.pass.traced_s"] = "s"
        m[f"{wl}.pass.trace_overhead_s"] = "s"
    m["setup.launch_s"] = "s"
    m["setup.get_spark_s"] = "s"
    m["setup.ensure_repacked_s"] = "s"
    m["machine.probe_s"] = "s"
    m["machine.probe_end_s"] = "s"
    return m


#: process-wide memos whose entry counts the corpus trace reports
MEMOS = {
    "textops_cols": ("nba_spurs_etl_spark.operators.textops", "_COLS_MEMO"),
    "search_bind": ("nba_spurs_etl_spark.operators.search", "_BIND_MEMO"),
    "similarity_sample": ("nba_spurs_etl_spark.operators.similarity", "_SAMPLE_CACHE"),
}


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T_PROCESS:7.2f}s {msg}", file=sys.stderr)


# --- machine -------------------------------------------------------------


def machine_probe() -> float:
    """A fixed single-thread CPU loop: recorded to tell a slow VM window
    from a regression, never used to rescale a metric."""
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(128):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def _parents() -> dict[int, int]:
    parents = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parents


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for kid in children.get(parent, ()):
            out.append((kid, parent))
            todo.append(kid)
    return out


def _hwm(pid: int) -> tuple[int, bytes]:
    """VmHWM in bytes, with the command line that identifies it."""
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        cmd = f.read()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024, cmd
    return 0, cmd


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers): the largest sum, over the processes
    alive at one sample, of each one's own high-water mark (VmHWM), so
    a short spike between samples is not missed."""

    INTERVAL = 0.25  # seconds between samples

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        mem, total = {}, 0
        for pid, parent in [(me, None), *descendants(me)]:
            try:
                mem[pid] = _hwm(pid)
            except OSError:
                continue  # exited between the listing and the read
            # a child spawned by vfork shares its parent's memory, and so
            # its command line and high-water mark, until it execs (the
            # JVM starts its helpers that way): count that memory once
            if mem[pid] != mem.get(parent):
                total += mem[pid][0]
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.sample()
            self._stop_event.wait(self.INTERVAL)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


# --- Spark helpers ----------------------------------------------------------


def stage_bytes_since(spark, last_stage: int) -> tuple[int, int]:
    """File output plus shuffle bytes written by stages newer than
    ``last_stage``; returns (bytes, newest stage id)."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    total, newest = 0, last_stage
    for i in range(stages.size()):  # newest stage first
        s = stages.apply(i)
        sid = s.stageId()
        if sid <= last_stage:
            break
        total += s.outputBytes() + s.shuffleWriteBytes()
        newest = max(newest, sid)
    return total, newest


def start_session():
    from nba_spurs_etl_spark.session import get_spark

    spark = get_spark(extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid, _ in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def repack(spark, cpus: int) -> str:
    """Repack the inputs from scratch and resolve every input table."""
    import tempfile

    from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES, load_table
    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    shutil.rmtree(os.path.join(tempfile.gettempdir(), "spark_graft_repack"), ignore_errors=True)
    sf_dir = ensure_repacked(DATA, cpus)
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t)
    return sf_dir


# --- the run -------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, expected: dict):
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.expected = expected
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, list[float]] = {}

    # -- set-up --

    def setup(self, cpus: int) -> dict:
        self.spark = start_session()
        self.sf_dir = repack(self.spark, cpus)
        launch = time.perf_counter() - T_PROCESS
        spark_s, repack_s = [], []
        for _ in range(SETUP_SAMPLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session()
            t1 = time.perf_counter()
            self.sf_dir = repack(self.spark, cpus)
            repack_s.append(time.perf_counter() - t1)
            spark_s.append(t1 - t0)
        totals = [a + b for a, b in zip(spark_s, repack_s)]
        return {
            "setup_s": statistics.median(totals),
            "setup.launch_s": launch,
            "setup.get_spark_s": statistics.median(spark_s),
            "setup.ensure_repacked_s": statistics.median(repack_s),
        }

    # -- passes --

    def run_pass(self, ctx, ops: dict) -> tuple[float, dict]:
        order = list(ops)
        self.rng.shuffle(order)
        outputs = {}
        t0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            try:
                outputs[name] = ops[name](ctx)
            except Exception:  # a failed op is counted, the run goes on
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, outputs

    def check_outputs(self, outputs: dict) -> None:
        """Untimed: every op's outputs against the expected digests. The
        digest jobs are short and latency bound, so they run side by side."""
        from concurrent.futures import ThreadPoolExecutor

        from workloads import digest

        want = self.expected.get(self.workload, {})
        frames = [(name, key, df) for name, f in outputs.items() for key, df in f.items()]
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [pool.submit(digest, df() if callable(df) else df) for _, _, df in frames]
        bad = set()
        for (name, key, _), fut in zip(frames, futures):
            try:
                got = fut.result()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                bad.add(name)
                continue
            if got != want.get(key):
                print(f"perfbench: output mismatch {key}: got {got}, want {want.get(key)}", file=sys.stderr)
                bad.add(name)
        self.failed += len(bad)

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def traced_pass_layers(self, ctx, tracer, spans_before: int, wall: float) -> None:
        from workloads import STREAM_OPS, dir_bytes, work_dir

        spans = tracer.spans[spans_before:]
        by_name = {s["name"]: s for s in spans}
        wl = self.workload
        self.record(f"{wl}.pass.traced_s", wall)
        if wl == "ingest":
            top = by_name["pipeline.run_pipeline"]
            children = [s for s in spans if s["parent"] == top["id"]]
            for s in children:
                if s["name"] != "plans.gold.build_all":
                    self.record(f"ingest.{s['name']}.jobs", s["jobs"])
                self.record(f"ingest.{s['name']}.s", s["s"])
            self.record("ingest.pipeline.run_pipeline.self_s", top["s"] - sum(c["s"] for c in children))
            self.record("ingest.pipeline.run_pipeline.jobs", top["jobs"])
            self.record("ingest.pipeline.work_dir_mb", dir_bytes(work_dir(ctx)) / MB)
            covered = top["s"]
            tracer.stream_events.wait_terminated(30.0)
            for op in STREAM_OPS:
                b, d = by_name[f"{op}.build"], by_name[f"{op}.drain"]
                runs = tracer.stream_events.runs_between(b["start"], b["end"])
                b["stream_runs"] = runs
                jobs = b["jobs"] + d["jobs"] + sum(tracer.group_counts(r)["jobs"] for r in runs)
                self.record(f"ingest.{op}.s", b["s"] + d["s"])
                self.record(f"ingest.{op}.jobs", jobs)
                for k, v in tracer.stream_events.totals(runs).items():
                    self.record(f"ingest.{op}.{k}", v)
                covered += b["s"] + d["s"]
            self.record("ingest.pass.remainder_s", wall - covered)
        else:
            import importlib

            from workloads import CORPUS_OPS, OLAP_OPS

            for op in CORPUS_OPS:
                b, d = by_name[f"{op}.build"], by_name[f"{op}.drain"]
                self.record(f"corpus.{op}.build_s", b["s"])
                self.record(f"corpus.{op}.drain_s", d["s"])
                self.record(f"corpus.{op}.jobs", b["jobs"] + d["jobs"])
            for memo, (mod, attr) in MEMOS.items():
                self.record(f"corpus.memo.{memo}", len(getattr(importlib.import_module(mod), attr, ())))
            jobs = tasks = 0
            for op in OLAP_OPS:
                b, d = by_name[f"{op}.build"], by_name[f"{op}.drain"]
                self.record(f"olap.{op}.drain_s", d["s"])
                jobs += b["jobs"] + d["jobs"]
                tasks += b["tasks"] + d["tasks"]
            self.record("olap.jobs", jobs)
            self.record("olap.tasks", tasks)

    def olap_plan_seconds(self, tracer, outputs: dict) -> None:
        from workloads import OLAP_OPS

        self.record("olap.plan_s", sum(tracer.plan_seconds(outputs[op][op]) for op in OLAP_OPS if op in outputs))

    def execute(self) -> dict:
        from workloads import Ctx, ops_for

        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        setup = self.setup(cpus)
        log(f"set up: launch {setup['setup.launch_s']:.2f}s, setup_s {setup['setup_s']:.3f}s")
        spark = self.spark
        ctx = Ctx(spark, self.sf_dir, os.path.join(os.getcwd(), "work"))
        ops = ops_for(self.workload)

        _, last_stage = stage_bytes_since(spark, -1)
        first_pass_s, outputs = self.run_pass(ctx, ops)
        log(f"first pass {first_pass_s:.2f}s")
        _, last_stage = stage_bytes_since(spark, last_stage)
        self.check_outputs(outputs)
        log("outputs checked")
        _, last_stage = stage_bytes_since(spark, last_stage)

        tracer = None
        if self.trace:
            from tracing import Tracer

            tracer = Tracer(spark, f"{self.workload}-{os.getpid()}")
        plain, traced, written = [], [], []
        t_measure = time.perf_counter()
        while True:
            ctx.pass_no += 1
            # traced runs go plain, traced, plain, ...: the overhead
            # estimate then straddles the warm-up trend between passes
            on = tracer is not None and len(traced) < len(plain)
            if on:
                tracer.enable()
                ctx.tracer = tracer
                n_spans = len(tracer.spans)
            wall, outputs = self.run_pass(ctx, ops)
            if on:
                ctx.tracer = None
                tracer.disable()
                traced.append(wall)
                self.traced_pass_layers(ctx, tracer, n_spans, wall)
                if self.workload == "query":
                    self.olap_plan_seconds(tracer, outputs)
            else:
                plain.append(wall)
            nbytes, last_stage = stage_bytes_since(spark, last_stage)
            written.append(nbytes / MB)
            log(f"pass {ctx.pass_no} {'traced' if on else 'plain'} {wall:.2f}s, {nbytes} B written")
            shutil.rmtree(ctx.work_root, ignore_errors=True)
            enough = time.perf_counter() - t_measure >= self.seconds
            if enough and (tracer is None or 0 < len(traced) < len(plain)):
                break

        pass_s = statistics.median(plain)
        metrics = {
            "setup_s": setup["setup_s"],
            "first_pass_s": first_pass_s,
            "pass_s": pass_s,
            "written_mb": statistics.median(written),
            "ok_frac": 1.0 - self.failed / max(self.attempted, 1),
        }
        if tracer is not None:
            self.record(f"{self.workload}.pass.trace_overhead_s", statistics.median(traced) - pass_s)
            for k in ("setup.launch_s", "setup.get_spark_s", "setup.ensure_repacked_s"):
                self.record(k, setup[k])
            write_spans(tracer)
        return metrics


def write_spans(tracer) -> None:
    out = os.path.join(RUNS, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{tracer.run_id}.json")
    with open(path, "w") as f:
        json.dump(tracer.spans, f)


def isolate(run_dir: str, cpus: int) -> None:
    """Give the run its own scratch: every temp dir, Spark's local dirs
    and the working directory sit under ``run_dir``, on the checkout's
    own file system."""
    for sub in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
    os.chdir(os.path.join(run_dir, "cwd"))
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nba_spurs_etl_spark")) or not os.path.isdir(DATA):
        print("perfbench: run from the root of a full checkout (library or data missing)", file=sys.stderr)
        return 2
    with open(EXPECTED) as f:
        expected = json.load(f)

    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = os.cpu_count() or 1
    run_dir = os.path.join(RUNS, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    isolate(run_dir, cpus)

    sampler = RssSampler()
    sampler.start()
    probe_start = machine_probe()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), expected)
    try:
        metrics = run.execute()
    finally:
        if hasattr(run, "spark"):
            shutdown(run.spark)
            log("shut down")
        peak = sampler.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    probe_end = machine_probe()
    print(f"perfbench: machine.probe_s start {probe_start:.4f} end {probe_end:.4f}", file=sys.stderr)
    metrics["peak_rss_mb"] = peak / MB

    if args.trace:
        run.record("machine.probe_s", probe_start)
        run.record("machine.probe_end_s", probe_end)
        out = {}
        for name, unit in per_layer_units().items():
            vals = run.layers.get(name)
            # times are medians over the traced passes; counts repeat
            # exactly after the cold pass, so the last pass stands
            value = 0 if not vals else (statistics.median(vals) if unit == "s" else vals[-1])
            out[name] = {"value": value, "unit": unit}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
