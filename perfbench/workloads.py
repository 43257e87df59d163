"""The benchmark workloads.

Each workload writes its inputs from the seed to parquet, reads them
back (the program sees only the parquet), and runs one *op* untraced
(:meth:`op`) or split into per-layer spans (:meth:`traced_op`).  Both
return an :class:`OpResult` whose ``problems`` list is the output check.

- ``suite``: ``ValidationSuite(job.default_rules()).run(df, baseline)``
  plus collecting verdicts, stats, violations and drift.  Most of the
  row-pass kernel, verdict-cascade, stats and drift work; little planning.
- ``resume``: the ``job.py --manifest`` path: a ``run_resumable`` killed
  after 28 of 64 buckets, a second ``run_resumable`` to completion, then
  ``column_stats(...).write`` and ``suite.drift``.  Same layers used
  differently, plus parquet/manifest writes (``engine.checkpoint``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks

#: input sizes, chosen so that 4 + 22 x 2 benchmark runs fit in under an
#: hour on a 4-CPU host (see README.md)
SUITE_CONVS = 4000
RESUME_CONVS = 500

N_BUCKETS = 64
#: job.py defaults to 8; 36 keeps the op to two bucket groups, the killed
#: one and the resumed one (see README.md)
BUCKETS_PER_JOB = 36
FAIL_AFTER_BUCKETS = 28
STAT_COLUMNS = ["turn_idx", "role", "text", "tool"]


@dataclass
class OpResult:
    wall_s: float
    resume_s: float | None = None
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # traced ops only
    steal_s: float = 0.0  # host-wide hypervisor steal during the op, CPU-s


def _suite(cls=None):
    from filters_spark.engine.suite import ValidationSuite
    from filters_spark.job import default_rules

    return (cls or ValidationSuite)(
        default_rules(), n_buckets=N_BUCKETS, stat_columns=STAT_COLUMNS
    )


def _plan_phases(spark, tracer, jdf):
    """Per-phase Catalyst time for one DataFrame.  Dataset analysis is
    eager, so ``plan.analyze`` re-analyzes the final logical plan in a
    fresh Dataset (extra work, counted as tracing overhead);
    ``plan.optimize`` and ``plan.physical`` force the frame's own lazy
    phases."""
    qe = jdf.queryExecution()
    datasets = spark._jvm.org.apache.spark.sql.classic.Dataset
    with tracer.span("plan.analyze"):
        datasets.ofRows(spark._jsparkSession, qe.logical())
    with tracer.span("plan.optimize"):
        qe.optimizedPlan()
    with tracer.span("plan.physical"):
        qe.executedPlan()
    return qe


def _analyzed_kb(qe) -> float:
    return len(qe.analyzed().toString()) / 1024.0


def udf_kernel_s(spark) -> float:
    """Python-UDF time recorded by ``spark.sql.pyspark.udf.profiler=perf``
    since the last call (summed over Python workers); clears it."""
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        return 0.0
    total = sum(s.total_tt for s in collector._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return total


class Suite:
    name = "suite"
    n_convs = SUITE_CONVS

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.root = work  # directory the inputs were written to

    @property
    def input_dir(self) -> str:
        return os.path.join(self.root, "input")

    @property
    def base_dir(self) -> str:
        return os.path.join(self.root, "baseline")

    def write_inputs(self, root: str) -> None:
        from filters_spark.data.transcripts import transcripts, transcripts_baseline

        n_files = self.spark.sparkContext.defaultParallelism
        transcripts(self.spark, n_convs=self.n_convs, seed=self.seed).repartition(
            n_files
        ).write.parquet(os.path.join(root, "input"))
        transcripts_baseline(
            self.spark, n_convs=max(self.n_convs // 4, 1), seed=self.seed + 1
        ).repartition(n_files).write.parquet(os.path.join(root, "baseline"))

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.input_dir)
        self.base = self.spark.read.parquet(self.base_dir)
        self.expected = checks.suite_expected(self.input_dir)
        self.input_rows = self.expected["totals"]["n_rows"]
        self.suite = _suite()

    def _check(self, verdicts, violations, stats, metrics) -> list[str]:
        obs = checks.suite_observed(verdicts, ((v["key"], v["code"]) for v in violations))
        problems = checks.mismatches(self.expected, obs)
        if not stats:
            problems.append("stats: no rows")
        if "drift_failed" not in metrics:
            problems.append("drift: no verdict")
        return problems

    def op(self) -> OpResult:
        t0 = time.perf_counter()
        result = self.suite.run(self.df, baseline=self.base)
        try:
            verdicts = result.verdicts.collect()
            stats = result.stats.collect()
            violations = result.violations.collect()
        finally:
            result.unpersist()
        wall = time.perf_counter() - t0
        return OpResult(wall, problems=self._check(verdicts, violations, stats, result.metrics))

    def traced_op(self, tracer) -> OpResult:
        """``run()``'s pieces in ``run()``'s order, one span each.  With
        ``baseline=None``, ``run()`` builds everything lazily and skips
        drift, so the row pass is timed by its own persist-and-count and
        drift is split into its current-side and baseline parts."""
        spark, suite = self.spark, self.suite
        layers = {}
        with tracer.span("suite") as root:
            with tracer.span("compiler.build"):
                result = suite.run(self.df, baseline=None)
            try:
                qe = _plan_phases(spark, tracer, result.keyed._jdf)
                udf_kernel_s(spark)
                with tracer.span("rowpass"):
                    result.keyed.count()
                layers["rowpass.kernel_s"] = udf_kernel_s(spark)
                with tracer.span("verdicts"):
                    verdicts = result.verdicts.collect()
                with tracer.span("stats"):
                    stats = result.stats.collect()
                with tracer.span("violations"):
                    violations = result.violations.collect()
                with tracer.span("drift.cur"):
                    cur = suite._cur_profile_from_rows(result.keyed)
                with tracer.span("drift.base"):
                    metrics = suite.drift(self.df, self.base, cur_profile=cur)
            finally:
                result.unpersist()
        layers["violations.rows"] = len(violations)
        layers["plan.analyzed_kb"] = _analyzed_kb(qe)
        return OpResult(
            root.duration,
            problems=self._check(verdicts, violations, stats, metrics),
            layers=layers,
        )


class Resume(Suite):
    name = "resume"
    n_convs = RESUME_CONVS

    def load(self) -> None:
        super().load()
        self.out = os.path.join(self.work, "out")
        self.manifest = os.path.join(self.work, "manifest")

    def warmup(self) -> OpResult:
        """The single-shot suite on the same input as the reference: it
        must match the DuckDB recount that every resume op is checked
        against.  Then one killed ``run_resumable``, so that the measured
        ops start with the checkpoint writes warm (a whole resume op here
        would add 10 s or more to every run)."""
        ref = Suite.op(self)
        self._reset()
        t0 = time.perf_counter()
        killed = self._run(self.suite, fail_after_buckets=FAIL_AFTER_BUCKETS)
        wall = time.perf_counter() - t0
        return OpResult(ref.wall_s + wall, problems=ref.problems + _check_kill(killed))

    def _reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.manifest, ignore_errors=True)

    def _run(self, suite, **kw) -> dict:
        from filters_spark.engine.checkpoint import run_resumable

        return run_resumable(
            self.df,
            suite,
            self.manifest,
            baseline=self.base,
            buckets_per_job=BUCKETS_PER_JOB,
            output=self.out,
            **kw,
        )

    def _tail(self, suite):
        from filters_spark.engine.stats import column_stats

        column_stats(self.df, suite.stat_columns).write.mode("overwrite").parquet(
            os.path.join(self.out, "stats")
        )
        return suite.drift(self.df, self.base)

    def _check_resume(self, killed: dict, done: dict, drift: dict) -> list[str]:
        problems = _check_kill(killed)
        if done.get("aborted") or done.get("completed") != N_BUCKETS:
            problems.append(f"resume: expected {N_BUCKETS} buckets, got {done}")
        exp = self.expected["totals"]
        for k in ("n_rows", "n_invalid", "dup_keys", "gappy_convs"):
            if done.get(k) != exp[k]:
                problems.append(f"resume summary {k}: expected {exp[k]}, got {done.get(k)}")
        problems += checks.mismatches(
            self.expected, checks.written_observed(self.out), "written."
        )
        if "drift_failed" not in drift:
            problems.append("drift: no verdict")
        return problems

    def op(self) -> OpResult:
        self._reset()
        suite = self.suite
        t0 = time.perf_counter()
        killed = self._run(suite, fail_after_buckets=FAIL_AFTER_BUCKETS)
        t1 = time.perf_counter()
        done = self._run(suite)
        drift = self._tail(suite)
        t2 = time.perf_counter()
        return OpResult(t2 - t0, resume_s=t2 - t1, problems=self._check_resume(killed, done, drift))

    def traced_op(self, tracer) -> OpResult:
        from filters_spark.engine.drift import dist_profile
        from filters_spark.engine.stats import column_stats
        from filters_spark.engine.suite import ValidationSuite

        class GroupClock(ValidationSuite):
            """Notes when run_resumable starts each bucket group."""

            def run(self, *a, **k):
                self.starts.append(time.perf_counter())
                return super().run(*a, **k)

        suite = _suite(GroupClock)
        suite.starts = []
        self._reset()
        udf_kernel_s(self.spark)
        groups: list[float] = []
        with tracer.span("resume") as root:
            with tracer.span("checkpoint.killed") as s_kill:
                killed = self._run(suite, fail_after_buckets=FAIL_AFTER_BUCKETS)
            kill_groups = len(suite.starts)
            groups += _intervals(suite.starts, s_kill.end)
            suite.starts = []
            with tracer.span("checkpoint.resume") as s_res:
                done = self._run(suite)
            resume_groups = len(suite.starts)
            groups += _intervals(suite.starts, s_res.end)
            with tracer.span("checkpoint.tail") as s_tail:
                with tracer.span("stats"):
                    column_stats(self.df, suite.stat_columns).write.mode(
                        "overwrite"
                    ).parquet(os.path.join(self.out, "stats"))
                with tracer.span("drift.cur"):
                    cur = dist_profile(self.df, suite.drift_cols, suite.length_col)
                with tracer.span("drift.base"):
                    drift = suite.drift(self.df, self.base, cur_profile=cur)
        attempted = _group_sizes(N_BUCKETS, kill_groups) + _group_sizes(
            N_BUCKETS - FAIL_AFTER_BUCKETS, resume_groups
        )
        layers = {
            "rowpass.kernel_s": udf_kernel_s(self.spark),
            "checkpoint.group_s": statistics.median(groups) if groups else 0.0,
            "checkpoint.rework_ratio": attempted / N_BUCKETS,
            "checkpoint.bytes_written": (
                _tree_bytes(self.out) + _tree_bytes(self.manifest)
            )
            / self.input_rows,
        }
        return OpResult(
            root.duration,
            resume_s=s_res.duration + s_tail.duration,
            problems=self._check_resume(killed, done, drift),
            layers=layers,
        )


def _check_kill(killed: dict) -> list[str]:
    if not killed.get("aborted") or killed.get("completed") != FAIL_AFTER_BUCKETS:
        return [f"kill: expected abort after {FAIL_AFTER_BUCKETS}, got {killed}"]
    return []


def _intervals(starts: list[float], end: float) -> list[float]:
    return [b - a for a, b in zip(starts, starts[1:] + [end])]


def _group_sizes(todo: int, groups: int) -> int:
    """Buckets validated by ``groups`` bucket groups over ``todo`` buckets
    (run_resumable splits its to-do list into groups of BUCKETS_PER_JOB)."""
    return sum(min(BUCKETS_PER_JOB, todo - i * BUCKETS_PER_JOB) for i in range(groups))


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


WORKLOADS = {w.name: w for w in (Suite, Resume)}
