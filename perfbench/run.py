#!/usr/bin/env python3
"""Benchmark of the validation engine on a Common-Crawl-style table.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_scan --seed 1 --seconds 25 --trace 0

Set-up writes ``sources.webpages.webpages(spark, N_ROWS, seed)`` plus a
``domain`` and a ``month`` column to parquet under ``.perfbench_run/``,
partitioned by month(warc_ts); the engine reads only those files. Set-up
then computes the DuckDB oracle over the same files, prepares the measured
op families of ``families.py`` and runs one untimed op of each. Every op
after that is timed and its output checked against the oracle.

``--trace 0`` measures the workload's own family for ``--seconds`` and
reports the end-to-end metrics of BENCHMARK.json. ``--trace 1`` measures
all four families, a quarter of ``--seconds`` each, alternating untraced
and traced ops; it reports the per-layer metrics, including each family
metric's tracing overhead (traced minus untraced), and writes the spans to
``.perfbench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

from pyspark.sql import functions as F

import families
import suites
from tracing import SparkWork, Tracer

ROOT = Path(__file__).resolve().parent.parent

WORKLOADS = ("crawl_scan", "batch_verdicts")  # each measures the family of its name
N_ROWS = 32_000
DRIVER_MEMORY = "2g"
OP_TIMEOUT_S = 60.0  # an op slower than this counts as failed
LAST_OP_START_S = 135.0  # after this long since start, no new op starts
REPEATS = 3  # plain scans and BOOLEAN_ONLY calls per traced run
COMPILES = 5


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_cores() -> int:
    """Task threads for Spark: half the usable cores. The other half serve
    the thread that plans and submits jobs, the engine's eager pool, the
    JVM's JIT and GC threads and the Python workers. On a 4-core VM,
    local[4] made batch_verdicts ops both slower (7-9 s against 5.3-6 s)
    and still falling after a minute, because those threads then queue
    behind the task threads."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_spark(work: Path):
    """``get_spark`` on local[<half the usable cores>], with every scratch file of
    Spark, the JVM and Python kept inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    from great_expectations_spark.sources.session import get_spark

    return get_spark(
        cores=spark_cores(), app="perfbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a heap committed up front keeps the resident set from
            # following the collector's resizing decisions
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
        })


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            ppid = int(stat.read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(stat.parent.name))
    todo, found = [pid], []
    while todo:
        children = parents.get(todo.pop(), [])
        found += children
        todo += children
    return found


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in procs:  # Python workers exit once the JVM is gone
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Bench:
    def __init__(self, spark, work: Path, seed: int, measured: list[str]):
        self.spark = spark
        self.work_dir = work
        self.seed = seed
        self.spark_work = SparkWork(spark.sparkContext)
        self.tracer = Tracer(self.spark_work)
        self.families = [f(self) for f in families.FAMILIES if f.name in measured]
        self.attempted = 0
        self.failed = 0
        self.untraced: dict[str, list[dict]] = {f.name: [] for f in self.families}
        self.traced: dict[str, list[dict]] = {f.name: [] for f in self.families}
        self.cold_s: float | None = None

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from great_expectations_spark.sources.webpages import webpages

        path = self.work_dir / "crawl"
        t0 = time.perf_counter()
        (webpages(self.spark, N_ROWS, self.seed)
         .withColumn("domain", F.regexp_extract("url", r"^https://(d\d+)\.", 1))
         .withColumn("month", F.month("warc_ts"))
         .write.partitionBy("month").parquet(str(path)))
        log(f"table written in {time.perf_counter() - t0:.1f}s")
        self.table = self.spark.read.parquet(str(path))
        t0 = time.perf_counter()
        self.oracle = suites.Oracle(
            f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)",
            threads=len(os.sched_getaffinity(0)))
        try:
            for fam in self.families:
                fam.setup()
        finally:
            self.oracle.close()
        log(f"oracle and family set-up in {time.perf_counter() - t0:.1f}s")
        for fam in self.families:  # untimed warm-up; its output is still checked
            t0 = time.perf_counter()
            for n in range(fam.warmup_ops):
                out = self.run_op(fam, traced=False)
                if n == 0 and fam.name == "crawl_scan" and out is not None:
                    self.cold_s = out["call_s"]
            log(f"{fam.name}: {fam.warmup_ops} warm-up ops in {time.perf_counter() - t0:.1f}s")

    # ------------------------------------------------------------ ops

    def run_op(self, fam, traced: bool) -> dict | None:
        op = self.tracer.new_op()
        self.attempted += 1
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{fam.name}", op):
                out = fam.op(op)
        except Exception:  # a failed op is counted and the run goes on
            self.failed += 1
            log(f"{fam.name} op {op} failed:\n{traceback.format_exc()}")
            return None
        finally:
            self.tracer.enabled = False
        took = time.perf_counter() - t0
        if took > OP_TIMEOUT_S:
            self.failed += 1
            log(f"{fam.name} op {op} took {took:.1f}s, over the {OP_TIMEOUT_S:.0f}s limit")
            return None
        return out

    def measure(self, seconds: float, trace: bool, started: float) -> None:
        """Each family gets an equal share of ``seconds`` and runs as many
        ops as fit in it at the family's nominal op time. The op count
        depends on ``seconds`` only, not on how fast this run happens to
        be: op times still fall as the JVM warms, so a time-bounded loop
        would let a faster run measure warmer ops. Traced runs alternate
        untraced and traced ops, at least one of each."""
        budget = seconds / len(self.families)
        for fam in self.families:
            n_ops = max(2 if trace else 1, round(budget / fam.nominal_op_s))
            t0 = time.perf_counter()
            for n in range(n_ops):
                if time.perf_counter() - started > LAST_OP_START_S:
                    log(f"time limit reached in {fam.name} after {n} ops")
                    break
                traced = trace and n % 2 == 1
                out = self.run_op(fam, traced)
                if out is not None:
                    (self.traced if traced else self.untraced)[fam.name].append(out)
                    log(f"{fam.name} op {n}: {out['call_s']:.2f}s")
            log(f"{fam.name}: {n_ops} ops in {time.perf_counter() - t0:.1f}s")

    # ------------------------------------------------------------ metrics

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in the JVM's /proc status")

    def end_to_end(self) -> dict[str, float]:
        (outs,) = self.untraced.values()
        return {
            "op_p50_ms": 1000 * median(o["call_s"] for o in outs),
            "rows_per_s": sum(o["rows"] for o in outs) / sum(o["call_s"] for o in outs),
            "jvm_peak_rss_mb": self.jvm_peak_rss_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        """Family metrics from the untraced ops, their tracing overhead, and
        layer metrics from the traced ops' spans and the layer probes."""
        m: dict[str, float] = {}
        for fam in self.families:
            untraced = fam.summary(self.untraced[fam.name])
            traced = fam.summary(self.traced[fam.name])
            for name, value in untraced.items():
                m[f"{fam.name}.{name}"] = value
                m[f"trace.overhead.{fam.name}.{name}"] = traced[name] - value
        self._layer_probes()
        tr = self.tracer

        def spans(name: str, key: str) -> float:
            return median((s["end"] - s["start"]) if key == "s" else s[key]
                          for s in tr.named(name))

        m["sources.scan_s"] = spans("sources.scan", "s")
        m["compiler.compile_ms"] = 1000 * spans("compiler.compile_expectation", "s")
        m["validator.validate_s"] = spans("validator.validate", "s")
        m["validator.cold_s"] = self.cold_s
        m["validator.batch_validate_s"] = spans("validator.validate_batch", "s")
        for key in ("jobs", "stages", "tasks"):
            m[f"validator.{key}"] = spans("validator.validate", key)
            m[f"validator.batch_{key}"] = spans("validator.validate_batch", key)
        m["validator.scan_ratio"] = m["validator.validate_s"] / m["sources.scan_s"]
        m["validator.pass2_s"] = m["validator.validate_s"] - spans("validator.validate_boolean", "s")
        m["validator.pass2_jobs"] = m["validator.jobs"] - spans("validator.validate_boolean", "jobs")
        m["grouped.validate_by_s"] = spans("grouped.validate_by", "s")
        m["grouped.jobs"] = spans("grouped.validate_by", "jobs")
        m["grouped.tasks"] = spans("grouped.validate_by", "tasks")
        verdicts = self.traced["batch_verdicts"]
        for kind in ("aligned", "unaligned"):
            chunk_ms = [ms for o in verdicts for ms in o[f"{kind}_chunk_ms"]]
            m[f"checkpoint.{kind}.chunk_ms_p50"] = families.percentile(chunk_ms, 50)
            m[f"checkpoint.{kind}.chunk_ms_p90"] = families.percentile(chunk_ms, 90)
            for key, name in (("jobs", "jobs"), ("files", "files"), ("bytes", "bytes_written")):
                m[f"checkpoint.{kind}.{name}_per_chunk"] = median(
                    o[f"{kind}_{key}"] / o[f"{kind}_chunks"] for o in verdicts)
        m["checkpoint.noop_resume_s"] = spans("checkpoint.noop_resume", "s")
        m["checkpoint.rollup_s"] = spans("checkpoint.rollup", "s")
        m["data_assistant.onboard_jobs"] = spans("data_assistant.run_onboarding_assistant", "jobs")
        m["profiler.profile_details_jobs"] = spans("profiler.profile_details", "jobs")
        m["profiler.infer_formats_s"] = spans("profiler.infer_formats", "s")
        self_time = tr.self_time_by_layer()
        total = sum(self_time.values())
        for layer, s in self_time.items():
            m[f"{layer}.self_share"] = s / total
        return m

    def _layer_probes(self) -> None:
        """Traced calls outside the families: a plain scan of the suite's
        columns (the floor any validation pays), the whole-table call at
        BOOLEAN_ONLY (the SUMMARY call minus it is pass 2), and compiling
        the suite with a cold compile cache."""
        from great_expectations_spark.plans import compiler

        tr = self.tracer
        crawl = next(f for f in self.families if f.name == "crawl_scan")
        tr.enabled = True
        try:
            for _ in range(REPEATS):
                with tr.span("sources.scan", tr.new_op()):
                    self.table.select(F.sum(F.length("url")), F.sum(F.length("text")),
                                      F.max("lang")).collect()
                crawl.validate("BOOLEAN_ONLY", tr.new_op(), span="validator.validate_boolean")
            for _ in range(COMPILES):
                for e in crawl.suite.expectations:
                    compiler.invalidate_cache(e.expectation_type)
                with tr.span("compiler.compile_expectation", tr.new_op()):
                    for e in crawl.suite.expectations:
                        compiler.compile_expectation(e, compiler.Options())
        finally:
            tr.enabled = False


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "great_expectations_spark" / "__init__.py").is_file():
        log(f"no great_expectations_spark package in {ROOT}")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    sys.path.insert(0, str(ROOT))
    measured = [f.name for f in families.FAMILIES] if args.trace else [args.workload]
    runs = ROOT / ".perfbench_run"
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        spark = start_spark(work)
        log(f"Spark started in {time.perf_counter() - started:.1f}s")
        bench = Bench(spark, work, args.seed % 2**31, measured)
        bench.setup()
        setup_s = time.perf_counter() - started
        log(f"set up in {setup_s:.1f}s")
        bench.measure(args.seconds, bool(args.trace), started)
        groups = [bench.untraced, bench.traced] if args.trace else [bench.untraced]
        empty = sorted({name for g in groups for name, outs in g.items() if not outs})
        if empty:
            # without one good op there is no number to report, only the
            # failures logged above
            log(f"no op succeeded in {', '.join(empty)}")
            return 1
        if args.trace:
            metrics = bench.per_layer()
            out = ROOT / ".perfbench_out" / f"trace-{args.workload}-seed{args.seed}.json"
            bench.tracer.write(out, {"workload": args.workload, "seed": args.seed,
                                     "metrics": metrics})
            log(f"spans written to {out}")
        else:
            metrics = bench.end_to_end()
            metrics["setup_s"] = setup_s
        attempted, failed = bench.attempted, bench.failed
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if runs.exists() and not any(runs.iterdir()):
            runs.rmdir()

    names = {m["name"] for m in wanted}
    if names != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: extra "
                           f"{sorted(set(metrics) - names)}, missing {sorted(names - set(metrics))}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
