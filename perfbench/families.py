"""The four op families of the benchmark.

Each family prepares its inputs in ``setup`` and then runs ops. An op calls
the engine only through its public functions, times each call, and checks
the call's output against the DuckDB oracle; a wrong output raises
``Mismatch``. Every op returns ``call_s`` (the time spent in engine calls)
and ``rows`` (the rows those calls validated or profiled), plus the family's
own timings, which ``summary`` turns into the family's metrics. Calls are
wrapped in tracer spans named ``<layer>.<call>``; they cost nothing while
the tracer is disabled.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path
from statistics import median

from pyspark.sql import functions as F

import suites

# The crawl table spans twelve months. Predicates are SQL that Spark and
# DuckDB read alike: the micro-batches are the first four months, the
# checkpoints validate months 1-2 (two chunks each way), and the onboarding
# slice is the even url ids of the sixth month.
BATCH_MONTHS = (1, 2, 3, 4)
CHECKPOINT_SQL = "month <= 2"
HASHED_CHUNKS = 2
SLICE_SQL = "month = 6 AND right(url, 1) IN ('0', '2', '4', '6', '8')"
SLICE_COLUMNS = ["url", "warc_ts", "text", "lang", "domain"]  # no binary html
PROFILE_TOP_K = 10


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Mismatch(AssertionError):
    """An engine output differs from the oracle."""


class Interrupted(Exception):
    """Raised from a checkpoint callback to stop the run half way."""


def check_suite(results, expected: list[dict], label: str) -> None:
    if len(results) != len(expected):
        raise Mismatch(f"{label}: {len(results)} results, oracle has {len(expected)}")
    for i, (evr, exp) in enumerate(zip(results, expected)):
        what = f"{label}[{i}] {evr.expectation_config.expectation_type}"
        if evr.exception_info.get("raised_exception"):
            raise Mismatch(f"{what} raised: {evr.exception_info.get('exception_message')}")
        if bool(evr.success) != exp["success"]:
            raise Mismatch(f"{what}: success {evr.success}, oracle {exp['success']}")
        if "unexpected_count" in exp and evr.result.get("unexpected_count") != exp["unexpected_count"]:
            raise Mismatch(f"{what}: unexpected_count {evr.result.get('unexpected_count')}, "
                           f"oracle {exp['unexpected_count']}")
        if "observed_value" in exp:
            got = evr.result.get("observed_value")
            if got is None or not math.isclose(got, exp["observed_value"], rel_tol=1e-9, abs_tol=1e-12):
                raise Mismatch(f"{what}: observed {got}, oracle {exp['observed_value']}")


def _tree_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class CrawlScan:
    """One whole-table ``validate()`` of the crawl suite at SUMMARY: scan-
    and aggregate-bound, and the only family that runs pass 2."""

    name = "crawl_scan"
    nominal_op_s = 2.5  # on a 4-core VM; sets the op count per run
    # the first ops fall fastest as the JVM compiles the planning code
    # (3.5 s, 3.0 s, 2.7 s, then about 2.3 s on that VM); measuring from the
    # fourth op keeps the run's median off the steepest part of that curve
    warmup_ops = 3

    def __init__(self, bench):
        self.b = bench
        self.suite = suites.crawl_suite()

    def setup(self) -> None:
        self.expected = self.b.oracle.suite_outcomes()
        self.rows = self.b.oracle.count()

    def validate(self, result_format: str, op: int | None = None,
                 span: str = "validator.validate") -> float:
        from great_expectations_spark import validate

        with self.b.tracer.span(span, op):
            t0 = time.perf_counter()
            res = validate(self.b.table, self.suite, result_format=result_format)
            dt = time.perf_counter() - t0
        check_suite(res.results, self.expected, f"crawl {result_format}")
        return dt

    def op(self, op: int) -> dict:
        dt = self.validate("SUMMARY", op)
        return {"call_s": dt, "rows": self.rows}

    def summary(self, outs: list[dict]) -> dict[str, float]:
        return {"rows_per_s": self.rows / median(o["call_s"] for o in outs)}


class MicroBatches:
    """A closed loop with one client: each op validates one small persisted
    batch at BOOLEAN_ONLY, so per-call fixed cost dominates."""

    name = "micro_batches"
    nominal_op_s = 0.4  # on a 4-core VM; sets the op count per run
    warmup_ops = 1

    def __init__(self, bench):
        self.b = bench
        self.suite = suites.crawl_suite()
        self.next = 0

    def setup(self) -> None:
        t = self.b.table
        self.batches = [t.where(F.col("month") == m).persist() for m in BATCH_MONTHS]
        union = self.batches[0]
        for b in self.batches[1:]:
            union = union.unionByName(b)
        union.count()  # one job fills every batch's cache
        where = [f"month = {m}" for m in BATCH_MONTHS]
        self.expected = [self.b.oracle.suite_outcomes(w) for w in where]
        self.rows = [self.b.oracle.count(w) for w in where]

    def op(self, op: int) -> dict:
        from great_expectations_spark import SparkValidator

        i = self.next % len(self.batches)
        self.next += 1
        with self.b.tracer.span("validator.validate_batch", op):
            t0 = time.perf_counter()
            res = SparkValidator(self.batches[i], self.suite, "BOOLEAN_ONLY").validate()
            dt = time.perf_counter() - t0
        check_suite(res.results, self.expected[i], f"batch month={BATCH_MONTHS[i]}")
        return {"call_s": dt, "rows": self.rows[i]}

    def summary(self, outs: list[dict]) -> dict[str, float]:
        batch = [o["call_s"] for o in outs]
        return {
            "batch_p50_ms": 1000 * percentile(batch, 50),
            "batch_p90_ms": 1000 * percentile(batch, 90),
            "batches_per_s": len(batch) / sum(batch),
        }


class BatchVerdicts:
    """Per-batch verdicts over the on-disk table, three ways: a checkpoint
    split by the ``month`` partition column (chunks prune files), one split
    by url hash (every chunk scans the input), and
    ``validate_by(["domain"])`` over the whole table. Each checkpoint is
    interrupted after half its chunks, resumed to completion and rolled up."""

    name = "batch_verdicts"
    nominal_op_s = 5.5  # on a 4-core VM; sets the op count per run
    warmup_ops = 1
    KINDS = ("aligned", "unaligned")

    def __init__(self, bench):
        self.b = bench
        self.row_suite = suites.row_suite()
        self.grouped_suite = suites.grouped_suite()

    def setup(self) -> None:
        from great_expectations_spark.checkpoint import Splitter

        self.table = self.b.table.where(F.expr(CHECKPOINT_SQL))
        self.splitters = {
            "aligned": Splitter.column_value(self.table, "month"),
            "unaligned": Splitter.hashed_column("url", HASHED_CHUNKS),
        }
        self.expected_rows = self.b.oracle.row_outcomes(CHECKPOINT_SQL)
        self.expected_groups = self.b.oracle.grouped_outcomes()
        self.checkpoint_rows = self.b.oracle.count(CHECKPOINT_SQL)
        self.table_rows = self.b.oracle.count()

    def _checkpoint(self, kind: str, op: int) -> dict:
        from great_expectations_spark.checkpoint import run_checkpoint

        tr, work = self.b.tracer, self.b.spark_work
        splitter = self.splitters[kind]
        k = len(splitter.chunks)
        path = str(self.b.work_dir / f"results-{op}-{kind}")
        run_id = f"op{op}"
        chunk_ms: list[float] = []
        mark: dict[str, float] = {}  # end of the previous chunk: time, job count

        def on_chunk(chunk_id: str, wall_s: float) -> None:
            now = time.perf_counter()
            chunk_ms.append(1000 * (now - mark["t"]))
            if tr.enabled:
                jobs = work.job_count()
                tr.add("checkpoint.chunk", mark["t"], now, jobs=jobs - mark["jobs"])
                mark["jobs"] = jobs
            mark["t"] = now
            if len(chunk_ms) == k // 2:  # reached once, in the first pass
                raise Interrupted(chunk_id)

        def run():
            mark["t"] = time.perf_counter()
            mark["jobs"] = work.job_count() if tr.enabled else 0
            return run_checkpoint(self.table, self.row_suite, splitter, path, run_id,
                                  on_chunk=on_chunk)

        with tr.span(f"checkpoint.run_{kind}", op) as span:
            t0 = time.perf_counter()
            try:
                run()
                raise Mismatch(f"{kind}: the interrupting callback never fired")
            except Interrupted:
                pass
            resumed = run()
            run_s = time.perf_counter() - t0
        if len(resumed.skipped_chunks) != k // 2 or len(resumed.completed_chunks) != k - k // 2:
            raise Mismatch(f"{kind}: resume skipped {len(resumed.skipped_chunks)} and ran "
                           f"{len(resumed.completed_chunks)} of {k} chunks")
        out = {f"{kind}_s": run_s, f"{kind}_chunks": k}
        if span is not None:
            out[f"{kind}_chunk_ms"] = chunk_ms
            out[f"{kind}_jobs"] = span["jobs"]
            out[f"{kind}_files"], out[f"{kind}_bytes"] = _tree_size(Path(path))
            with tr.span("checkpoint.noop_resume"):
                run_checkpoint(self.table, self.row_suite, splitter, path, run_id)

        with tr.span("checkpoint.rollup", op):
            t0 = time.perf_counter()
            rolled = resumed.rollup().collect()
            out[f"{kind}_rollup_s"] = time.perf_counter() - t0
        self._check_results(kind, resumed, run_id, k)
        if len(rolled) != len(self.expected_rows):
            raise Mismatch(f"{kind} rollup: {len(rolled)} rows, oracle {len(self.expected_rows)}")
        for r in rolled:
            exp = self.expected_rows[r["expectation_index"]]
            if bool(r["success"]) != exp["success"] or r["unexpected_count"] != exp["unexpected_count"]:
                raise Mismatch(f"{kind} rollup[{r['expectation_index']}]: success {r['success']} "
                               f"unexpected {r['unexpected_count']}, oracle {exp}")
        shutil.rmtree(path)
        return out

    def _check_results(self, kind: str, resumed, run_id: str, k: int) -> None:
        """Exactly one results row per (chunk, expectation) for the run."""
        e = len(self.row_suite.expectations)
        row = (resumed.results_df.where(F.col("run_id") == run_id)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("chunk_id", "expectation_index").alias("d"))
               .first())
        if row["n"] != k * e or row["d"] != k * e:
            raise Mismatch(f"{kind}: results hold {row['n']} rows ({row['d']} distinct), "
                           f"expected {k} chunks x {e}")

    def _grouped(self, op: int) -> float:
        from great_expectations_spark import validate_by

        with self.b.tracer.span("grouped.validate_by", op):
            t0 = time.perf_counter()
            rows = validate_by(self.b.table, self.grouped_suite, ["domain"]).collect()
            dt = time.perf_counter() - t0
        if len(rows) != len(self.expected_groups):
            raise Mismatch(f"validate_by: {len(rows)} rows, oracle {len(self.expected_groups)}")
        for r in rows:
            exp = self.expected_groups.get((r["domain"], r["expectation_index"]))
            if exp is None or bool(r["success"]) != exp["success"] \
                    or r["unexpected_count"] != exp["unexpected_count"]:
                raise Mismatch(f"validate_by {r['domain']}[{r['expectation_index']}]: "
                               f"success {r['success']} unexpected {r['unexpected_count']}, "
                               f"oracle {exp}")
        return dt

    def op(self, op: int) -> dict:
        out = {}
        for kind in self.KINDS:
            out.update(self._checkpoint(kind, op))
        out["grouped_s"] = self._grouped(op)
        out["call_s"] = out["grouped_s"] + sum(
            out[f"{kind}_s"] + out[f"{kind}_rollup_s"] for kind in self.KINDS)
        out["rows"] = len(self.KINDS) * self.checkpoint_rows + self.table_rows
        return out

    def summary(self, outs: list[dict]) -> dict[str, float]:
        m = {f"{kind}_chunks_per_s": median(o[f"{kind}_chunks"] / o[f"{kind}_s"] for o in outs)
             for kind in self.KINDS}
        m["grouped_rows_per_s"] = self.table_rows / median(o["grouped_s"] for o in outs)
        return m


class OnboardProfile:
    """``run_onboarding_assistant`` and ``profile_details`` over a persisted
    slice of the table's non-binary columns: the only family that runs the
    profiler, the assistant and their per-row pandas-UDF stage."""

    name = "onboard_profile"
    nominal_op_s = 4.5  # on a 4-core VM; sets the op count per run
    warmup_ops = 1

    def __init__(self, bench):
        self.b = bench

    def setup(self) -> None:
        self.slice = self.b.table.where(F.expr(SLICE_SQL)).select(*SLICE_COLUMNS).persist()
        self.slice.count()
        self.rows = self.b.oracle.count(SLICE_SQL)
        self.lang_top = self.b.oracle.top_values("lang", SLICE_SQL, PROFILE_TOP_K)

    def op(self, op: int) -> dict:
        from great_expectations_spark import validate
        from great_expectations_spark.data_assistant import run_onboarding_assistant
        from great_expectations_spark.profiler import profile_details

        tr = self.b.tracer
        with tr.span("data_assistant.run_onboarding_assistant", op):
            t0 = time.perf_counter()
            res = run_onboarding_assistant(self.slice)
            onboard_s = time.perf_counter() - t0
        with tr.span("profiler.profile_details", op):
            t0 = time.perf_counter()
            details = profile_details(self.slice, top_k=PROFILE_TOP_K)
            profile_s = time.perf_counter() - t0
        green = validate(self.slice, res.suite, result_format="BOOLEAN_ONLY")
        if not green.success:
            bad = [r.expectation_config.expectation_type for r in green.results if not r.success]
            raise Mismatch(f"onboarding suite fails on its own input: {bad}")
        top = [tuple(t) for t in details.get("lang", {}).get("top_values", [])]
        if top != self.lang_top:
            raise Mismatch(f"profile_details lang top values {top}, oracle {self.lang_top}")
        if tr.enabled:
            from great_expectations_spark.profiler import infer_formats

            with tr.span("profiler.infer_formats", op):
                infer_formats(self.slice)
        return {"call_s": onboard_s + profile_s, "rows": self.rows,
                "onboard_s": onboard_s, "profile_details_s": profile_s}

    def summary(self, outs: list[dict]) -> dict[str, float]:
        return {"onboard_s": median(o["onboard_s"] for o in outs),
                "profile_details_s": median(o["profile_details_s"] for o in outs)}


FAMILIES = (CrawlScan, MicroBatches, BatchVerdicts, OnboardProfile)
