#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bi_star --seed 1 --seconds 3 --trace 0

Run from the repository root.  One driver process, one closed-loop
client: ops run back to back on ``local[N]``, N = the CPUs this process
may use, with N shuffle partitions and a driver heap of a quarter of
physical memory (at most 4 GiB).  The warehouse, Spark's local dirs,
the event log and every table store live under one temp dir below
``./.perfbench_run/``, removed at the end.

A run:

1. sets up once: ``setup_s`` runs from process start (Python imports,
   JVM launch, session start) until the workload's inputs are ready, as
   a ``spark-submit`` job pays it; repeated runs supply the samples;
2. runs one cold pass over the workload's op list in the fresh session,
   then the workload's warm-up passes, which are not reported;
3. runs steady passes until ``--seconds`` have passed (at least one);
   every pass runs the same ops on the same inputs (write workloads
   start each pass from an empty store), so how many passes fit does
   not change what a pass measures;
4. checks every op's output outside the timed region.

``pass_s`` is the median steady pass and ``op_p50_s`` the Harrell-Davis
median (``stats.hd_median``) of the steady ops' latencies, which weighs
every op instead of the one that ranks in the middle.

``space_amp`` and the ``storage.files_*``/``bytes_*`` levels are read
after the first steady pass.  A read-only workload keeps no table, so
its ``space_amp`` is 1 and its file and byte levels are 0.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` the run also writes Spark's event log, tags each op
with ``setJobGroup("<workload>#<pass>#<op>")``, wraps the engine's
public functions in spans, and the last line holds the per-layer
metrics instead.  Per-layer counts and times are totals per steady
pass; ``checkpoint.*`` is the level after the run's last op; ``*_ratio``
and ``*_share`` are ratios.  The lines before it name every metric with
its unit, plus ``fail_ratio``, ``op_tail_s`` (when a run holds enough
ops), the CPU count and memory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_DIR = ".perfbench_run"
#: Job group of the Spark jobs the benchmark itself runs between ops.
UNTIMED_GROUP = "perfbench#untimed"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "space_amp": "ratio",
}
#: What each layer should move (4 cores): ``plans.builder_*`` and
#: ``spark.driver_gap_s``/``one_task_stages`` move ``pass_s`` on
#: builder-heavy keys (curation_dedup) and on corpus_ingest; Catalyst
#: phases move ``op_p50_s`` on bi_star by at most their share; executor
#: CPU, shuffle, spill and GC move bi_star and medallion_daily;
#: ``storage.*`` calls move ``pass_s`` on the write workloads only and
#: files/bytes move ``space_amp``; ``checkpoint.*`` tracks leaked
#: checkpoint blocks behind ``op_tail_s`` and pass-to-pass drift.
PER_LAYER = {
    "host.cpus": "count",
    "host.mem_gb": "GB",
    "session.start_s": "s",
    "trace.pass_s": "s",
    "op.self_s": "s",
    "plans.builder_s": "s",
    "plans.builder_jobs": "count",
    "plans.builder_share": "ratio",
    "plans.self_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.one_task_stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.slot_util": "ratio",
    "spark.driver_gap_s": "s",
    "storage.commits": "count",
    "storage.commit_s": "s",
    "storage.reads": "count",
    "storage.read_s": "s",
    "storage.meta_calls": "count",
    "storage.meta_s": "s",
    "storage.self_s": "s",
    "storage.files_on_disk": "count",
    "storage.files_live": "count",
    "storage.bytes_on_disk": "MB",
    "storage.bytes_live": "MB",
    **{f"medallion.{s}_s": "s" for s in tracing.MEDALLION_STAGES},
    "medallion.gold_tier_s": "s",
    "medallion.quarantine_ratio": "ratio",
    "medallion.self_s": "s",
    "corpus.ingest_batch_s": "s",
    "corpus.accept_ratio": "ratio",
    "corpus.near_dups": "count",
    "corpus.self_s": "s",
    "checkpoint.live_rdds": "count",
    "checkpoint.live_mb": "MB",
}


def host_resources() -> tuple[int, int]:
    """(CPUs this process may run on, physical memory in bytes)."""
    cpus = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return cpus, mem


def session_conf(run_dir: str, mem: int, trace: bool) -> dict[str, str]:
    heap_mb = max(512, min(4096, mem // 4 >> 20))
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
        "spark.local.dir": f"{run_dir}/local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def live_checkpoints(spark) -> tuple[int, float]:
    """Persistent RDDs alive in the JVM and the MB their blocks hold."""
    sc = spark.sparkContext._jsc.sc()
    n = sc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / 1e6
    return n, mb


class Run:
    def __init__(self, args, cpus: int, mem: int, run_dir: str):
        self.args = args
        self.cpus = cpus
        self.mem = mem
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.tracer = tracing.Tracer(enabled=self.trace)
        self.workload = WORKLOADS[args.workload](args.seed, self.tracer)
        self.spark = None
        self.setup_s = self.start_s = 0.0
        #: one dict per op: pass, label, op, wall, epoch window, problems
        self.ops: list[dict] = []
        self.passes: list[dict] = []

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr)

    def start_session(self):
        from delta_lake_gcp_implementation_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=session_conf(self.run_dir, self.mem, self.trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t

    def setup(self) -> None:
        self.start_session()
        self.workload.prepare(self.spark, os.path.join(self.run_dir, "inputs"))
        self.setup_s = time.perf_counter() - PROCESS_START
        self.log(f"setup: {self.setup_s:.2f} s")

    def run_pass(self, index: int) -> None:
        wl, sc = self.workload, self.spark.sparkContext
        wl.begin_pass(index, self.run_dir)
        wall = 0.0
        for j, op in enumerate(wl.op_list()):
            label = f"{wl.name}#{index}#{j}"
            if self.trace:
                sc.setJobGroup(label, op)
            begin_epoch, t = time.time(), time.perf_counter()
            result, problems = None, []
            try:
                with self.tracer.op(label):
                    result = wl.run(op)
            except Exception as exc:  # an op failure is counted, not fatal
                problems.append(f"raised {type(exc).__name__}: {exc}")
            elapsed = time.perf_counter() - t
            end_epoch = time.time()
            if self.trace:
                sc.setJobGroup(UNTIMED_GROUP, "output checks")
            if not problems:
                try:
                    problems = wl.check(op, result, full=index == 0)
                except Exception as exc:
                    problems.append(f"check raised {type(exc).__name__}: {exc}")
            self.log(f"op {label} {op}: {elapsed:.2f} s timed, checked")
            rdds, rdd_mb = live_checkpoints(self.spark)
            record = {
                "pass": index, "label": label, "op": op, "wall": elapsed,
                "window_ms": (int(begin_epoch * 1e3), int(end_epoch * 1e3) + 1),
                "problems": problems, "live_rdds": rdds, "live_mb": rdd_mb,
                "result": result,
            }
            if self.trace and result is not None and hasattr(wl, "catalyst_ms"):
                record["catalyst"] = wl.catalyst_ms(result)
            if problems:
                print(f"op {label} {op} failed: {'; '.join(problems)}", file=sys.stderr)
            self.ops.append(record)
            wall += elapsed
        if self.trace:
            sc.setJobGroup(UNTIMED_GROUP, "output checks")
        try:
            problems = wl.check_pass()
        except Exception as exc:
            problems = [f"pass check raised {type(exc).__name__}: {exc}"]
        if problems:
            print(f"pass {index} failed: {'; '.join(problems)}", file=sys.stderr)
            self.ops[-1]["problems"] += problems
        usage = wl.end_pass()
        if usage is None:
            usage = dict.fromkeys(
                ("files_on_disk", "bytes_on_disk", "files_live", "bytes_live"), 0
            )
            usage["space_amp"] = 1.0
        else:
            usage["space_amp"] = stats.space_amp(usage["bytes_on_disk"], usage["bytes_live"])
        self.passes.append({"index": index, "wall": wall, **usage})
        self.log(f"pass {index}: {wall:.2f} s timed")

    def measure(self) -> None:
        first = 1 + self.workload.warmup_passes
        for index in range(first):
            self.run_pass(index)
        window_start = time.perf_counter()
        index = first
        while index == first or time.perf_counter() - window_start < self.args.seconds:
            self.run_pass(index)
            index += 1

    # ------------------------------------------------------------ metrics

    def steady(self) -> tuple[list[dict], list[dict]]:
        """Passes and ops of the measured window."""
        first = 1 + self.workload.warmup_passes
        return (
            [p for p in self.passes if p["index"] >= first],
            [o for o in self.ops if o["pass"] >= first],
        )

    def end_to_end(self) -> dict[str, float]:
        passes, ops = self.steady()
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.passes[0]["wall"],
            "pass_s": stats.median([p["wall"] for p in passes]),
            "op_p50_s": stats.hd_median([o["wall"] for o in ops]),
            "space_amp": passes[0]["space_amp"],
        }

    def per_layer(self, log: eventlog.EventLog) -> dict[str, float]:
        passes, ops = self.steady()
        n = len(passes)
        busy_s = sum(p["wall"] for p in passes)
        labels = {o["label"] for o in ops}
        by_id = {s.sid: s for s in self.tracer.spans}

        def root(span):
            while span.parent is not None and span.parent in by_id:
                span = by_id[span.parent]
            return span.name.split(":", 1)[1] if span.name.startswith("op:") else None

        spans = [s for s in self.tracer.spans if root(s) in labels]

        def total(prefix: str) -> tuple[int, float]:
            hit = [s for s in spans if s.name.startswith(prefix)]
            return len(hit), sum(s.end - s.start for s in hit)

        m: dict[str, float] = {
            "host.cpus": self.cpus,
            "host.mem_gb": self.mem / 2**30,
            "session.start_s": self.start_s,
            "trace.pass_s": stats.median([p["wall"] for p in passes]),
        }
        self_s = tracing.self_times(spans)
        for layer in ("op", "plans", "storage", "medallion", "corpus"):
            m[f"{layer}.self_s"] = self_s.get(layer, 0.0) / n

        builder_s = total("plans.builder")[1]
        builder_spans = [(s.start, s.end) for s in spans if s.name == "plans.builder"]
        m["plans.builder_s"] = builder_s / n
        m["plans.builder_jobs"] = eventlog.jobs_within(log, builder_spans) / n
        m["plans.builder_share"] = builder_s / busy_s
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(
                o.get("catalyst", {}).get(phase, 0.0) for o in ops
            ) / n

        windows = {o["label"]: o["window_ms"] for o in ops}
        per_op = eventlog.summarize(log, windows).values()
        for field in (
            "jobs", "stages", "one_task_stages", "tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
            "input_mb", "driver_gap_s",
        ):
            m[f"spark.{field}"] = sum(getattr(s, field) for s in per_op) / n
        m["spark.slot_util"] = m["spark.executor_run_s"] * n / (busy_s * self.cpus)

        for kind, calls, secs in (
            ("commit", "storage.commits", "storage.commit_s"),
            ("read", "storage.reads", "storage.read_s"),
            ("meta", "storage.meta_calls", "storage.meta_s"),
        ):
            count, t = total(f"storage.{kind}:")
            m[calls], m[secs] = count / n, t / n
        first_steady = passes[0]
        m["storage.files_on_disk"] = first_steady["files_on_disk"]
        m["storage.files_live"] = first_steady["files_live"]
        m["storage.bytes_on_disk"] = first_steady["bytes_on_disk"] / 1e6
        m["storage.bytes_live"] = first_steady["bytes_live"] / 1e6

        for stage in tracing.MEDALLION_STAGES:
            m[f"medallion.{stage}_s"] = total(f"medallion.{stage}")[1] / n
        gold = 0.0
        for label in labels:
            tier = [
                s for s in spans
                if root(s) == label
                and s.name in {f"medallion.{g}" for g in tracing.GOLD_TIER}
            ]
            if tier:
                gold += max(s.end for s in tier) - min(s.start for s in tier)
        m["medallion.gold_tier_s"] = gold / n
        results = [o["result"] for o in ops if isinstance(o["result"], dict)]
        validate = [r["validate"] for r in results if "validate" in r]
        quarantined = sum(v["quarantined"] for v in validate)
        m["medallion.quarantine_ratio"] = (
            quarantined / (quarantined + sum(v["staged"] for v in validate))
            if validate else 0.0
        )

        ingests = [o for o in ops if isinstance(o["result"], dict) and "accepted" in o["result"]]
        batches = [o["result"] for o in ingests]
        m["corpus.ingest_batch_s"] = sum(o["wall"] for o in ingests) / n
        m["corpus.accept_ratio"] = (
            sum(r["accepted"] for r in batches) / sum(r["batch"] for r in batches)
            if batches else 0.0
        )
        m["corpus.near_dups"] = sum(r["near_dups"] for r in batches) / n
        m["checkpoint.live_rdds"] = self.ops[-1]["live_rdds"]
        m["checkpoint.live_mb"] = self.ops[-1]["live_mb"]
        return m

    def event_log(self) -> eventlog.EventLog:
        log_dir = os.path.join(self.run_dir, "eventlog")
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        names = [n for n in os.listdir(log_dir) if n.startswith(app_id)]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log for {app_id}, found {names}")
        return eventlog.read(os.path.join(log_dir, names[0]))

    def result(self) -> tuple[list[str], dict]:
        """Summary lines naming every metric, and the result object."""
        attempted = len(self.ops)
        failed = sum(bool(o["problems"]) for o in self.ops)
        metrics = self.end_to_end()
        _, steady_ops = self.steady()
        lines = [
            f"workload={self.workload.name} seed={self.args.seed} cpus={self.cpus} "
            f"mem_gb={self.mem / 2**30:.1f} passes={len(self.passes)} ops={attempted}",
            *(f"{k} {v:.6g} {END_TO_END[k]}" for k, v in metrics.items()),
            f"fail_ratio {failed / attempted:.6g} ratio",
        ]
        tail = stats.tail([o["wall"] for o in steady_ops])
        if tail is not None:
            lines.append(f"op_tail_s {tail[1]:.6g} s (p{round(tail[0] * 100)})")
        units = dict(END_TO_END)
        if self.trace:
            metrics = self.per_layer(self.event_log())
            units = PER_LAYER
            lines += [f"{k} {v:.6g} {PER_LAYER[k]}" for k, v in metrics.items()]
        return lines, {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus, mem = host_resources()
    os.makedirs(RUN_DIR, exist_ok=True)
    run_dir = os.path.abspath(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUN_DIR))
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None
    out, sys.stdout = sys.stdout, sys.stderr  # engine prints stay off stdout
    run = None
    try:
        run = Run(args, cpus, mem, run_dir)
        run.setup()
        if run.trace:
            with tracing.installed(run.tracer):
                run.measure()
        else:
            run.measure()
        lines, result = run.result()
    finally:
        try:
            stop_jvm(run.spark if run else None)
        finally:
            sys.stdout = out
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(RUN_DIR)
            except OSError:
                pass
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
