"""The benchmark's workloads. Each one prepares seeded inputs and their
expected outputs (outside any timing), registers the inputs with a
session, runs one op, checks an op's output, and turns the traced ops
into per-layer numbers.

Only public entry points of the program are called:
``plans.run.run_pipeline`` and ``registry.QUERIES[...]``.
"""

from __future__ import annotations

import os
import re
import statistics
from collections import defaultdict

import gen_docs
import gen_omop
import oracle
from spantrace import SparkRest, size_label, storage_mb

from hypertension_dashboard_pipeline_spark import registry
from hypertension_dashboard_pipeline_spark.plans.run import run_pipeline

PLAN_STAGES = ("cohort", "bp", "phenotype")
PLAN_FIELDS = ("wall_s", "task_busy_s", "cpu_s", "gc_s", "tasks", "jobs",
               "scan_rows", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
               "broadcast_mb")
CURATION_QUERIES = ("curation_pipeline", "dedup_minhash_lsh")
# avg_quality is a mean each engine sums in its own order, then rounded
# at 4 dp: a mean sitting exactly on a rounding midpoint can come out one
# unit apart (seen on seed 106). est_jaccard is a ratio of small integers.
CURATION_ATOL = {"curation_pipeline": 1e-4, "dedup_minhash_lsh": 0.0}
REGISTRY_FIELDS = ("construct_s", "execute_s", "task_busy_s", "gc_s",
                   "shuffle_write_mb", "spill_mb")
# checkpoint directory (run_pipeline's out_dir layout) -> script stage
_CHECKPOINT_STAGE = {"stage2_cohort": "cohort", "stage3_bp_flags": "bp",
                     "stage4_phenotype": "phenotype", "stage4_stats": "phenotype"}


def layer_names() -> list[str]:
    """Every per-layer metric, in output order."""
    names = [f"plans.{s}.{f}" for s in PLAN_STAGES for f in PLAN_FIELDS]
    names += ["io.measurement_scan_ratio", "io.checkpoint_write_mb",
              "io.checkpoint_files", "io.scan_files_per_op", "io.scan_rows_per_op",
              "driver.idle_s", "driver.plan_ms", "session.jobs_per_op",
              "session.tasks_per_op", "session.build_s", "jvm.peak_rss_mb",
              "jvm.jit_s", "codegen.compiles_per_op"]
    names += [f"registry.{q}.{f}" for q in CURATION_QUERIES for f in REGISTRY_FIELDS]
    names += ["operators.dedup.persisted_mb", "trace.overhead_s"]
    return names


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) of the Parquet parts under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    input_rows = 0
    warmup_ops = 1  # untimed ops before the timed ones; the first is cold

    def __init__(self, cache: str, work: str, seed: int):
        self.cache, self.work, self.seed = cache, work, seed

    def prepare(self) -> None:
        """Generate (or reuse) the seeded inputs."""

    def expect(self) -> None:
        """Compute the expected outputs with DuckDB. Touches no Spark
        state, so it may run on another thread while Spark warms up."""

    def register(self, spark) -> None:
        """Make the inputs known to a fresh session (part of set-up)."""

    def op(self, spark, tracer):
        """One timed operation; returns what ``check`` needs."""

    def check(self, out) -> bool:
        return True

    def final_check(self, spark, out) -> bool:
        """Deeper check of the last good op's output, outside timing."""
        return True

    def after_traced_op(self, sc) -> None:
        """Called right after each traced op, before the next starts."""

    def layers(self, rest: SparkRest, tracer, op_spans) -> dict[str, float]:
        """Per-op means of this workload's own layers."""
        return {}

    def common_layers(self, rest: SparkRest, tracer, op_spans) -> dict[str, float]:
        """Counts every workload reports: driver idle and plan time, jobs,
        tasks and scans per op."""
        acc = defaultdict(float)
        for s in op_spans:
            groups = tracer.subtree(s)
            jobs = rest.jobs_in(groups)
            busy = rest.busy_intervals(jobs)
            covered = sum(max(0.0, min(b, s.end) - max(a, s.start)) for a, b in busy)
            acc["driver.idle_s"] += (s.end - s.start) - covered
            if busy:
                acc["driver.plan_ms"] += max(0.0, busy[0][0] - s.start) * 1e3
            jt = rest.job_totals(jobs)
            acc["session.jobs_per_op"] += jt["jobs"]
            acc["session.tasks_per_op"] += jt["tasks"]
            pt = rest.plan_totals(rest.executions_in(groups), {})
            acc["io.scan_files_per_op"] += pt["scan_files"]
            acc["io.scan_rows_per_op"] += pt["scan_rows"]
        return {k: v / len(op_spans) for k, v in acc.items()}


class OmopPipeline(Workload):
    """One op = one full ``run_pipeline`` (cohort -> BP -> phenotype, with
    a Parquet checkpoint per stage) plus collecting its stats table."""

    name = "omop_pipeline"
    N_PATIENTS = 10_000
    # after the cold first op, op times drift down by a few per cent
    # per op; the timed ops always start at the second one, so the
    # drift moves every run alike

    def prepare(self) -> None:
        self.data = gen_omop.ensure_omop(self.cache, self.seed, self.N_PATIENTS)
        self.codelists = gen_omop.load_codelists(self.data)
        self.rows = gen_omop.table_rows(self.data)
        self.input_rows = sum(self.rows.values())
        self.out_dir = os.path.join(self.work, "checkpoints")
        self.checkpoint_stats: list[tuple[int, int]] = []

    def expect(self) -> None:
        self.expected = oracle.OmopOracle(self.data, self.codelists)

    def register(self, spark) -> None:
        self.tables = {t: spark.read.parquet(os.path.join(self.data, f"{t}.parquet"))
                       for t in gen_omop.TABLES}

    def op(self, spark, tracer):
        with tracer.span("plans.run_pipeline"):
            stages = run_pipeline(spark, self.tables, self.codelists, self.out_dir,
                                  year=gen_omop.YEAR)
        with tracer.span("collect_stats"):
            rows = stages["stats"].collect()
        return stages, rows

    def check(self, out) -> bool:
        return oracle.matches(out[1], self.expected.stats)

    def final_check(self, spark, out) -> bool:
        got = {tuple(r) for r in out[0]["phenotype"].select(*oracle.PHENOTYPE_COLS).collect()}
        return got == self.expected.phenotype

    def after_traced_op(self, sc) -> None:
        self.checkpoint_stats.append(_dir_files(self.out_dir))

    def layers(self, rest, tracer, op_spans) -> dict[str, float]:
        acc = defaultdict(float)
        sizes = {"measurement": size_label(
            os.path.getsize(os.path.join(self.data, "measurement.parquet")))}
        for s in op_spans:
            executions = rest.executions_in(tracer.subtree(s))
            acc["io.measurement_scan_ratio"] += (
                rest.plan_totals(executions, sizes)["scan_rows.measurement"]
                / self.rows["measurement"])
            by_stage = defaultdict(list)
            for e in executions:
                path = rest.write_path(e)
                stage = _CHECKPOINT_STAGE.get(os.path.basename(path or ""))
                if stage:
                    by_stage[stage].append(e)
            for stage, execs in by_stage.items():
                job_ids = {i for e in execs for i in e["successJobIds"] + e["failedJobIds"]}
                jt = rest.job_totals([rest.job[i] for i in job_ids if i in rest.job])
                pt = rest.plan_totals(execs, {})
                for f in PLAN_FIELDS:
                    acc[f"plans.{stage}.{f}"] += pt[f] if f in ("wall_s", "scan_rows", "broadcast_mb") else jt[f]
        out = {k: v / len(op_spans) for k, v in acc.items()}
        files, size = (statistics.mean(x) for x in zip(*self.checkpoint_stats))
        out["io.checkpoint_files"] = float(files)
        out["io.checkpoint_write_mb"] = size / 1e6
        return out


def _materialized(sql: str) -> str:
    """The same query with every CTE materialized once: DuckDB otherwise
    re-evaluates the scoring CTE at each reference."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


class CurationCorpus(Workload):
    """One op = ``curation_pipeline`` then ``dedup_minhash_lsh``, each
    built from the registry and written to a noop sink."""

    name = "curation_corpus"
    N_DOCS = 3_000
    # the JIT takes the second op to 1.5x and the third to 1.2x the
    # time of the later ones
    warmup_ops = 3

    def prepare(self) -> None:
        registry.load_all()
        self.data = gen_docs.ensure_docs(self.cache, self.seed, self.N_DOCS)
        self.input_rows = self.N_DOCS
        self.persisted_mb: list[float] = []

    def expect(self) -> None:
        self.expected = {q: oracle.registry_oracle(self.data, _materialized(registry.ORACLES[q]))
                         for q in CURATION_QUERIES}

    def register(self, spark) -> None:
        spark.read.parquet(os.path.join(self.data, "documents.parquet")).schema

    def op(self, spark, tracer):
        # results are small (one row per source; the candidate pairs),
        # so collecting them costs little next to the queries
        out = {}
        for q in CURATION_QUERIES:
            with tracer.span(f"registry.{q}.construct"):
                df = registry.QUERIES[q](spark, self.data)
            with tracer.span(f"registry.{q}.execute"):
                out[q] = df.collect()
        return out

    def check(self, out) -> bool:
        return all(oracle.matches(out[q], self.expected[q], CURATION_ATOL[q])
                   for q in CURATION_QUERIES)

    def after_traced_op(self, sc) -> None:
        # dedup intermediates stay persisted until the next curation call
        self.persisted_mb.append(storage_mb(sc))

    def layers(self, rest, tracer, op_spans) -> dict[str, float]:
        acc = defaultdict(float)
        for s in op_spans:
            ids = tracer.subtree(s)
            for q in CURATION_QUERIES:
                for part in ("construct", "execute"):
                    spans = [x for x in tracer.spans
                             if x.id in ids and x.name == f"registry.{q}.{part}"]
                    acc[f"registry.{q}.{part}_s"] += sum(x.end - x.start for x in spans)
                    jt = rest.job_totals(rest.jobs_in({x.id for x in spans}))
                    for f in ("task_busy_s", "gc_s", "shuffle_write_mb", "spill_mb"):
                        acc[f"registry.{q}.{f}"] += jt[f]
        out = {k: v / len(op_spans) for k, v in acc.items()}
        out["operators.dedup.persisted_mb"] = statistics.mean(self.persisted_mb)
        return out


WORKLOADS = {w.name: w for w in (OmopPipeline, CurationCorpus)}
