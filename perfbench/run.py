"""Repository benchmark: one closed-loop client runs a workload's items
one after another on ``local[<cores>]`` and times the calls it makes into
the engine's public functions.

    python3 perfbench/run.py --workload sink_scan --seed 1 --seconds 8 --trace 0

Run it from the repository root. One run:

1. writes the seeded corpus under ``.perfbench_work/`` (see inputs.py);
   the query items read the engine's sf0.01 fixture tables in
   ``fixtures/``;
2. sets up: ``session.get_spark`` + ``registry.load_all`` +
   ``catalog.load_tables``, from before the engine is imported;
3. runs the first pass over the items (each item is ``fn()`` and the
   noop sink);
4. untimed: checks every item's output from the first pass (check.py)
   and takes ``SETUP_SAMPLES - 1`` more set-up samples, each from a
   set-up-only child process;
5. runs ``--seconds / seconds_per_pass`` steady passes (at least
   ``MIN_STEADY_PASSES``) and prints the end-to-end metrics.

With ``--trace 1`` the run first makes an untraced run of the same
workload and seed in a child process, then sets up once and makes
steps 3 to 5 itself, without the set-up children, with the Spark event
log, job groups and a streaming listener on, and prints the per-layer
metrics (spans.py) plus the tracing overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Per-item breakdowns and spans go to the trace
file under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "azure_batch_map_reduce_spark"
SETUP_SAMPLES = 2
MIN_STEADY_PASSES = 3
MODULE_GROUPS = ("operators", "functions", "streaming", "plans.mapreduce")
MAP_CMD = "wc -w"
REDUCE_CMD = "cat *.stdout | awk '{n++; s+=$1} END {print n, s}'"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- map/reduce functions shipped to the Python workers ----

def count_words(path: str, content: bytes) -> bytes:
    return str(len(content.split())).encode()


def sum_counts(gathered: list[tuple[str, bytes]]) -> bytes:
    per_file = {name.rsplit(".", 1)[0]: int(data) for name, data in gathered}
    return json.dumps(
        {"outputs": len(gathered), "total": sum(per_file.values()), "per_file": per_file},
        sort_keys=True,
    ).encode()


# ---- process facts ----

def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def child_jvm_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        if ppid == me and comm == "java":
            pids.append(int(entry))
    return pids


def stop_jvm() -> None:
    """Close the driver JVM's stdin (its exit signal) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def load_1min() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> list[int]:
    """Host-wide user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_pct(start: list[int]) -> float:
    """Share of CPU time the hypervisor took from the benchmark's machine since
    ``start``: a host-contention fact recorded next to the timings."""
    d = [b - a for a, b in zip(start, cpu_ticks())]
    return 100.0 * d[7] / max(sum(d), 1)


# ---- the client ----

@dataclass
class Measurement:
    setup_samples: list[tuple[float, float, float]]
    first_wall: float
    first_times: dict[str, float]
    steady_walls: list[float]
    steady_times: dict[str, list[float]]
    frames: dict  # the last steady pass's frames
    steady_window: tuple[float, float]  # epoch ms
    steady_map_calls: int  # map_fn invocations in the steady passes (traced runs)

    @property
    def pass_s(self) -> float:
        """A steady pass built from each item's fastest steady run: the
        CPU speed of a shared virtual machine swings from one stretch of
        seconds to the next, and a swing only ever adds time to a run."""
        return sum(min(v) for v in self.steady_times.values() if v)


class Client:
    """Sequential closed-loop client over one workload's items."""

    def __init__(self, cfg: dict, workload: str, work: str, trace: bool) -> None:
        self.items = [it["name"] for it in cfg["workloads"][workload]["items"]]
        self.seconds_per_pass = cfg["workloads"][workload]["seconds_per_pass"]
        self.work = work
        self.trace = trace
        self.table_dir = os.path.join(HERE, cfg["fixtures"]["dir"])
        self.corpus_dir = os.path.join(work, "corpus")
        self.event_log_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.registry = None
        self.mapreduce = None
        self.failures: dict[str, str] = {}
        # Traced runs only:
        self.spans: list = []
        self.map_calls = None
        self.listener = None

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> tuple[float, float, float]:
        """This process's set-up, from before the engine (and pyspark) is
        imported; returns (get_spark, load_all, load_tables) seconds."""
        assert PKG not in sys.modules, "set-up must start in a fresh process"
        t0 = time.perf_counter()
        from azure_batch_map_reduce_spark import session

        spark = session.get_spark(app_name="perfbench", extra_conf=self.conf())
        t1 = time.perf_counter()
        from azure_batch_map_reduce_spark import registry

        queries = registry.load_all()
        t2 = time.perf_counter()
        from azure_batch_map_reduce_spark import catalog

        catalog.load_tables(spark, self.table_dir)
        t3 = time.perf_counter()
        from azure_batch_map_reduce_spark.plans import mapreduce

        self.spark, self.registry, self.mapreduce = spark, queries, mapreduce
        if self.trace:
            self.map_calls = spark.sparkContext.accumulator(0)
            self.listener = make_listener()
            spark.streams.addListener(self.listener)
        return t1 - t0, t2 - t1, t3 - t2

    def module_group(self, item: str) -> str:
        if item.startswith("mr_"):
            return "plans.mapreduce"
        mod = self.registry[item].fn.__module__.removeprefix(PKG + ".")
        return "plans.mapreduce" if mod.startswith("plans.") else mod.split(".")[0]

    def build(self, item: str):
        """The item's ``fn()``: a registered query, or a literal
        map -> gather -> reduce pipeline over the generated corpus."""
        mr = self.mapreduce
        if item == "mr_fn_pipeline":
            calls = self.map_calls

            def map_fn(path: str, content: bytes) -> bytes:
                if calls is not None:
                    calls.add(1)
                return count_words(path, content)

            return mr.gather_reduce(mr.map_files(self.spark, self.corpus_dir, map_fn=map_fn), reduce_fn=sum_counts)
        if item == "mr_cmd_pipeline":
            return mr.gather_reduce(mr.map_files(self.spark, self.corpus_dir, map_cmd=MAP_CMD), reduce_cmd=REDUCE_CMD)
        return self.registry[item].fn(self.spark, self.table_dir)

    def run_pass(self, pass_name: str) -> tuple[float, dict[str, float], dict]:
        """Run every item once, in order: ``fn()`` then the noop sink.
        Returns the pass wall time, per-item times and the built frames."""
        from spans import Span

        sc = self.spark.sparkContext
        times: dict[str, float] = {}
        frames: dict = {}
        t_pass = time.perf_counter()
        for item in self.items:
            try:
                if self.trace:
                    sc.setJobGroup(f"perfbench:{pass_name}:{item}:fn", item)
                w0, t0 = time.time(), time.perf_counter()
                df = self.build(item)
                w1 = time.time()
                if self.trace:
                    sc.setJobGroup(f"perfbench:{pass_name}:{item}:sink", item)
                df.write.format("noop").mode("overwrite").save()
                w2, t2 = time.time(), time.perf_counter()
            except Exception as e:  # an item failure is counted, the run goes on
                self.failures.setdefault(item, f"{pass_name}: {type(e).__name__}: {e}"[:500])
                log(f"{item} failed in {pass_name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            finally:
                if self.trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.spark.catalog.clearCache()
            times[item] = t2 - t0
            frames[item] = df
            if self.trace:
                self.spans.append(Span(pass_name, item, "fn", w0 * 1e3, w1 * 1e3))
                self.spans.append(Span(pass_name, item, "sink", w1 * 1e3, w2 * 1e3))
        return time.perf_counter() - t_pass, times, frames

    def measure(self, seconds: float, untimed) -> Measurement:
        """This process's set-up and first pass, then the untimed steps
        ``untimed(<the first pass's frames>)``, which return more set-up
        samples, then the steady passes. The untimed steps (the check,
        set-up-only children) come before the steady passes on purpose:
        the check runs every item once more, and the JVM compiles queued
        hot code while the children run, so the steady passes start
        warmer."""
        samples = [self.setup()]
        first_wall, first_times, first_frames = self.run_pass("first")
        log(f"first pass {first_wall:.3f}s")
        samples += untimed(first_frames)
        log(f"setup samples {[round(sum(s), 3) for s in samples]}")
        walls: list[float] = []
        per_item: dict[str, list[float]] = {it: [] for it in self.items}
        frames: dict = {}
        calls0 = self.map_calls.value if self.trace else 0
        w_lo = time.time() * 1e3
        # The pass count follows from ``seconds`` and the workload's
        # ``seconds_per_pass``, not from the clock: the items keep getting
        # faster for several passes (JIT), so a count that grew on a fast
        # host would make its fastest run faster still. eager_loops gets
        # more passes per second than sink_scan because q364, most of its
        # pass, still speeds up over the first three.
        for i in range(max(MIN_STEADY_PASSES, round(seconds / self.seconds_per_pass))):
            wall, times, frames = self.run_pass(f"steady{i}")
            walls.append(wall)
            for it, t in times.items():
                per_item[it].append(t)
        log(f"steady passes {[round(w, 3) for w in walls]}")
        calls = self.map_calls.value - calls0 if self.trace else 0
        return Measurement(samples, first_wall, first_times, walls, per_item, frames, (w_lo, time.time() * 1e3), calls)

    def check(self, frames: dict, expected_corpus: dict | None) -> None:
        """Compare every item's output with its oracle; record failures."""
        import check

        con = check.oracle_connection(self.table_dir)
        try:
            for item in self.items:
                if item not in frames:
                    continue
                try:
                    got = frames[item].toPandas()
                    if item == "mr_fn_pipeline":
                        err = check.check_fn_pipeline(got, expected_corpus)
                    elif item == "mr_cmd_pipeline":
                        err = check.check_cmd_pipeline(got, expected_corpus)
                    else:
                        err = check.check_query(got, self.registry[item].oracle, con, self.table_dir)
                except Exception as e:  # a crashing check is a failed item
                    err = f"check raised {type(e).__name__}: {e}"[:500]
                if err:
                    self.failures.setdefault(item, err)
                    log(f"{item} incorrect: {err}")
        finally:
            con.close()
            self.spark.catalog.clearCache()


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Records (trigger time, input rows) of every micro-batch."""

        def __init__(self) -> None:
            self.progress: list[tuple[str, int]] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            self.started += 1

        def onQueryProgress(self, event) -> None:
            self.progress.append((event.progress.timestamp, event.progress.numInputRows))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

    return Progress()


def iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


# ---- end-to-end and per-layer metrics ----

def end_to_end(m: Measurement, attempted: int, failed: int) -> dict[str, tuple[float, str]]:
    item_best = [min(v) for v in m.steady_times.values() if v]
    return {
        "setup_s": (statistics.median(sum(s) for s in m.setup_samples), "s"),
        "pass_s": (m.pass_s, "s"),
        "item_p50_s": (statistics.median(item_best) if item_best else 0.0, "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }


def per_layer(client: Client, m: Measurement, app_id: str, cores: int, gathered: int | None,
              untraced: dict) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of the steady passes (per pass, averaged over
    them), from the spans and the parsed event log. The set-up layers
    are the untraced child's fresh-process set-up, which it takes once
    to keep a traced run within its time limit."""
    import spans

    ev = spans.read_event_log(os.path.join(client.event_log_dir, app_id))
    spans.attach_jobs(ev, client.spans)
    n = len(m.steady_walls)
    setup = untraced["setup_samples"]
    out: dict[str, float] = {
        "session.get_spark_s": statistics.median(s[0] for s in setup),
        "registry.load_all_s": statistics.median(s[1] for s in setup),
        "catalog.load_tables_s": statistics.median(s[2] for s in setup),
    }
    for g in MODULE_GROUPS:
        for k in ("fn_plan_s", "fn_jobs_s", "sink_s", "fn_jobs", "sink_jobs"):
            out[f"{g}.{k}"] = 0.0
    ledgers: dict[str, dict] = {}
    for span in client.spans:
        if not span.pass_name.startswith("steady"):
            continue
        led = spans.span_ledger(ev, span)
        g = client.module_group(span.item)
        ledgers[f"{span.pass_name}/{span.item}/{span.phase}"] = led
        if span.phase == "fn":
            out[f"{g}.fn_plan_s"] += led["self_s"] / n
            out[f"{g}.fn_jobs_s"] += led["jobs_s"] / n
            out[f"{g}.fn_jobs"] += led["jobs"] / n
        else:
            out[f"{g}.sink_s"] += led["wall_s"] / n
            out[f"{g}.sink_jobs"] += led["jobs"] / n
    totals = spans.window_totals(ev, *m.steady_window, cores)
    for k, v in totals.items():
        out[k] = v if k in ("spark.ms_per_job", "exec.core_util") else v / n

    def first_minus_steady(item: str) -> float:
        steady = m.steady_times.get(item)
        return m.first_times[item] - min(steady) if steady and item in m.first_times else 0.0

    out["first_pass_s"] = m.first_wall
    out["store.ulm_first_s"] = first_minus_steady("q443_unigram_lm_viterbi_segmentation")
    lo, hi = m.steady_window
    rows = [r for ts, r in client.listener.progress if lo <= iso_ms(ts) <= hi]
    out["streaming.batches"] = len(rows) / n
    out["streaming.input_rows"] = sum(rows) / n

    map_tasks = 0
    sink = [led for key, led in ledgers.items() if key.endswith("/mr_fn_pipeline/sink")]
    if sink:
        map_stage = min(sid for j in sink[-1]["job_ids"] for sid in ev.jobs[j].stage_ids)
        map_tasks = max(st.num_tasks for (sid, _), st in ev.stages.items() if sid == map_stage)
    steady = {it: min(v) if v else 0.0 for it, v in m.steady_times.items()}
    # Three independent counts along the contract: files the map stage
    # read (Spark's input metrics), outputs the mappers emitted (an
    # accumulator in map_fn), outputs the reducer saw (its own report).
    out["mapreduce.files"] = sum(led["input_records"] for led in sink) / n
    out["mapreduce.map_tasks"] = map_tasks
    out["mapreduce.map_outputs"] = m.steady_map_calls / n
    out["mapreduce.gathered_ratio"] = gathered * n / m.steady_map_calls if gathered and m.steady_map_calls else 0.0
    out["mapreduce.fn_pipeline_s"] = steady.get("mr_fn_pipeline", 0.0)
    out["mapreduce.cmd_pipeline_s"] = steady.get("mr_cmd_pipeline", 0.0)
    out["mapreduce.pipe_s"] = steady.get("q91_pipe_identity_wordcount", 0.0)
    untraced_pass_s = untraced["metrics"]["pass_s"]["value"]
    out["trace.overhead_pct"] = 100.0 * (m.pass_s - untraced_pass_s) / untraced_pass_s
    payload = {"ledgers": ledgers, "spans": spans.span_records(ev, client.spans)}
    return out, payload


def child_lines(args: argparse.Namespace, *extra: str) -> list[str]:
    """Run this script for the same workload and seed in a child process
    (a fresh interpreter and JVM) and return its stdout lines."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), *extra]
    return subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout.strip().splitlines()


def tagged(lines: list[str], tag: str):
    """The JSON payload of the ``# <tag> ...`` line, or None."""
    prefix = f"# {tag} "
    return next((json.loads(line[len(prefix):]) for line in lines if line.startswith(prefix)), None)


def setup_child(args: argparse.Namespace) -> tuple[float, float, float]:
    """One set-up sample from a fresh set-up-only process."""
    return tuple(tagged(child_lines(args, "--setup-only"), "setup")[0])


def untraced_child(args: argparse.Namespace) -> dict:
    """The untraced run of the same workload and seed, with one set-up
    sample; returns its result line, failures and set-up samples."""
    lines = child_lines(args, "--trace", "0", "--setup-samples", "1")
    result = json.loads(lines[-1])
    result["failures"] = tagged(lines, "failures") or {}
    result["setup_samples"] = tagged(lines, "setup")
    return result


def fixture_facts(table_dir: str) -> dict:
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
    return {
        "rows": {f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
                 for f in files},
        "bytes": sum(os.path.getsize(os.path.join(table_dir, f)) for f in files),
    }


# ---- main ----

def main() -> int:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--setup-samples", type=int, default=SETUP_SAMPLES, help=argparse.SUPPRESS)
    args = p.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        log(f"unknown workload {args.workload!r}; choose from {sorted(cfg['workloads'])}")
        return 2
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "session.py")):
        log(f"the engine package {PKG} is not in {root}; run from the repository root")
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, HERE)
    import inputs

    child = untraced_child(args) if args.trace else None
    ticks0 = cpu_ticks()
    facts = {"nproc": os.cpu_count(), "load_1min": load_1min(), "workload": args.workload,
             "seed": args.seed, "trace": args.trace}
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Everything the run writes stays inside the checkout: Python temp
    # files (map tasks, operator temp dirs), Spark local and streaming dirs,
    # and the launcher JVM's temp files.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    client = Client(cfg, args.workload, work, bool(args.trace))
    try:
        if args.setup_only:
            print("# setup " + json.dumps([client.setup()]), flush=True)
            return 0
        expected = None
        if any(it.startswith("mr_") for it in client.items):
            c = cfg["corpus"]
            expected = inputs.write_corpus(client.corpus_dir, args.seed, c["files"], c["words_per_file"])
            facts["corpus"] = {k: expected[k] for k in ("files", "bytes", "total_words")}

        def untimed(frames: dict) -> list:
            # Both kinds of run check the first pass's outputs; an
            # untraced run also takes its other set-up samples here, and
            # a traced run's set-up layers come from its untraced child.
            client.check(frames, expected)
            return [] if args.trace else [setup_child(args) for _ in range(args.setup_samples - 1)]

        m = client.measure(args.seconds, untimed)
        # Read after the set-up, which must not find pyarrow imported.
        facts["fixtures"] = fixture_facts(client.table_dir)
        print("# facts " + json.dumps(facts), flush=True)
        attempted = len(client.items)
        record = {"facts": facts, "setup_samples": m.setup_samples, "first_times": m.first_times,
                  "steady_walls": m.steady_walls, "steady_times": m.steady_times}
        if not args.trace:
            metrics = end_to_end(m, attempted, len(client.failures))
        else:
            rss = vm_hwm_mb(os.getpid()) + sum(vm_hwm_mb(pid) for pid in child_jvm_pids())
            gathered = None
            if "mr_fn_pipeline" in m.frames:
                # The reducer's own count of the outputs it gathered, read
                # back from the last steady pass's frame (an untimed re-run).
                gathered = json.loads(bytes(m.frames["mr_fn_pipeline"].collect()[0]["content"]))["outputs"]
            deadline = time.time() + 10
            while client.listener.terminated < client.listener.started and time.time() < deadline:
                time.sleep(0.05)
            sc = client.spark.sparkContext
            app_id, cores = sc.applicationId, sc.defaultParallelism
            client.spark.stop()
            client.spark = None
            layer, payload = per_layer(client, m, app_id, cores, gathered, child)
            layer["process.peak_rss_mb"] = rss
            record.update(payload)
            client.failures.update(child["failures"])
            metrics = {k: (v, cfg["per_layer"][k]["unit"]) for k, v in layer.items()}
        facts["steal_pct"] = steal_pct(ticks0)
        facts["load_1min_end"] = load_1min()
        record["failures"] = client.failures
        record["metrics"] = metrics
        trace_dir = os.path.join(root, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        if client.spark is not None:
            client.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    failed = len(client.failures)
    print("# host " + json.dumps({k: facts.get(k) for k in ("nproc", "load_1min", "load_1min_end", "steal_pct")}))
    print("# setup " + json.dumps(m.setup_samples))
    print("# failures " + json.dumps(client.failures), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
