"""Per-layer metrics of a traced loop: Spark's jobs, stages and tasks
attributed to the benchmark's spans, and the spans' own timings."""

from __future__ import annotations

import stats
from tracing import Job, Span, StageStats, attribute

MB = 1024.0 * 1024.0

#: the analytics rows timed by analytics_batch: a construction-heavy
#: iterative graph loop and the slowest execution-heavy row; README.md says
#: why the other nine were left out
ROWS = ("q_bfs_levels", "q_bm25")

#: every per-layer metric, with its unit; a workload reports 0 for a layer
#: it does not exercise
PER_LAYER: dict[str, str] = {
    "ql.parse_ms": "ms",
    "match.construct_ms": "ms",
    "match.construct_jobs": "count",
    "match.jobs_per_read": "count",
    "match.stages_per_read": "count",
    "match.tasks_per_read": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.sched_delay_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.cpu_util": "ratio",
    "spark.peak_rss_mb": "MB",
    "database.update_ms": "ms",
    "database.create_ms": "ms",
    "database.connect_ms": "ms",
    "database.connect_new_ms": "ms",
    "database.connect_old_ms": "ms",
    "database.delete_ms": "ms",
    "database.write_p50_ms": "ms",
    "database.jobs_per_write": "count",
    "database.node_partitions_end": "count",
    "database.edge_partitions_end": "count",
    "database.read_drift": "ratio",
    "temporal.current_read_ms": "ms",
    "temporal.asof_read_ms": "ms",
    "temporal.versions_per_row": "ratio",
    "snapshot.commit_ms": "ms",
    "snapshot.commit_jobs": "count",
    "snapshot.bytes_per_commit": "MB",
    "snapshot.reuse_ratio": "ratio",
    "snapshot.restore_ms": "ms",
    "snapshot.open_ms": "ms",
    "snapshot.first_read_ms": "ms",
    "snapshot.gc_ms": "ms",
    "snapshot.store_mb": "MB",
    "analytics.pass_s": "s",
    "analytics.warmup_s": "s",
    "analytics.construct_s": "s",
    "analytics.construct_jobs": "count",
    "analytics.exec_s": "s",
    "analytics.jobs": "count",
    "analytics.stages": "count",
    "graphs.construct_s": "s",
    **{f"row.{r}.{k}": u for r in ROWS for k, u in (
        ("construct_s", "s"), ("exec_s", "s"), ("construct_jobs", "count"))},
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}


class Attribution:
    """Spark jobs placed in the spans that submitted them."""

    def __init__(self, spans: list[Span], jobs: list[Job],
                 stages: dict[int, StageStats]) -> None:
        self.spans, self.jobs, self.stages = spans, jobs, stages
        owner = attribute(jobs, spans)
        self.owner = {j.id: owner[j.id] for j in jobs}

    def root(self, idx: int) -> int:
        while self.spans[idx].parent is not None:
            idx = self.spans[idx].parent
        return idx

    def jobs_where(self, pred) -> list[Job]:
        """Jobs whose innermost span satisfies ``pred(span_index)``."""
        return [j for j in self.jobs
                if self.owner[j.id] is not None and pred(self.owner[j.id])]

    def in_op(self, *kinds: str) -> list[Job]:
        names = {"op:" + k for k in kinds}
        return self.jobs_where(lambda i: self.spans[self.root(i)].name in names)

    def traced(self) -> list[Job]:
        return self.jobs_where(lambda i: True)

    def stage_totals(self, jobs: list[Job]) -> tuple[StageStats, int]:
        """Task totals over the stages that ran, and how many ran (skipped
        stages have no tasks and are not counted)."""
        total, n = StageStats(), 0
        for sid in {s for j in jobs for s in j.stages}:
            st = self.stages.get(sid)
            if st is not None and st.tasks:
                total.add(st)
                n += 1
        return total, n


def span_p50(spans: list[Span], name: str) -> float:
    xs = [s.ms for s in spans if s.name == name]
    return stats.median(xs) if xs else 0.0


def spark_totals(att: Attribution, n_ops: int, wall_s: float, cores: int) -> dict:
    """Task-level work of every traced job, per operation, and how busy
    the cores were over the loop."""
    total, _ = att.stage_totals(att.traced())
    per = max(n_ops, 1)
    return {
        "spark.task_run_s": total.run_ms / 1000.0 / per,
        "spark.task_cpu_s": total.cpu_ns / 1e9 / per,
        "spark.sched_delay_s": total.sched_delay_ms / 1000.0 / per,
        "spark.shuffle_read_mb": total.shuffle_read / MB / per,
        "spark.shuffle_write_mb": total.shuffle_write / MB / per,
        "spark.spill_mb": total.spill / MB / per,
        "spark.failed_tasks": float(total.failed_tasks),
        "spark.cpu_util": total.cpu_ns / 1e9 / (wall_s * cores),
    }


def read_counts(att: Attribution, kinds: tuple[str, ...], n_reads: int) -> dict:
    jobs = att.in_op(*kinds)
    tot, n_stages = att.stage_totals(jobs)
    per = max(n_reads, 1)
    return {
        "match.construct_jobs": len(
            [j for j in jobs if att.spans[att.owner[j.id]].name == "match.construct"]
        ) / per,
        "match.jobs_per_read": len(jobs) / per,
        "match.stages_per_read": n_stages / per,
        "match.tasks_per_read": tot.tasks / per,
    }
