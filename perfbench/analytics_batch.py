"""analytics_batch: repeated passes over seated analytics rows of the
driver contract, each materialised with the noop sink.

This is where the analytics and graphs layers and the DataFrame-construction
cost live; MATCH and DML are bypassed.  ``q_bfs_levels`` runs its BFS loop
while the DataFrame is built (41 jobs before the write), ``q_bm25`` does its
work in the write, so a construction cut should move
``analytics.construct_s`` while ``row.q_bm25.exec_s`` stays flat.

Outputs are checked once per run, after the timed loop: each row's
result, built by the last set-up and collected in the warm-up, is
compared with its DuckDB oracle SQL over the same files, normalised the
way ``scripts/check_oracle.py`` does it.
"""

from __future__ import annotations

import gc
import time
from collections import Counter

import duckdb

import datagen
import stats
from harness import Loop, Run, timed_setup
from layers import ROWS, Attribution

READ_KINDS = ROWS
GRAPH_ROWS = ("q_bfs_levels",)
#: nominal seconds of one pass at the current head on 4 cores; the pass
#: count is ``--seconds`` / this, so it is fixed for a given setting
PASS_S = 5.0
#: the tables the rows read
INPUTS = ("documents", "customer", "nation", "region")


def _queries() -> dict:
    import __spark_entry__ as entry

    qs = {**entry.queries(), **entry.parked_queries()}
    return {r: qs[r] for r in ROWS}


def _oracles() -> dict:
    import __spark_entry__ as entry

    os_ = {**entry.oracle_sql(), **entry.parked_oracle_sql()}
    return {r: os_[r] for r in ROWS}


def _pass(run: Run, data_dir: str, queries: dict) -> float:
    tr = run.tracer
    t0 = time.perf_counter()
    for name, fn in queries.items():
        with run.op(name):
            with tr.span("analytics.construct"):
                df = fn(run.spark, data_dir)
            with tr.span("analytics.execute"):
                df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _reclaim(spark) -> None:
    """Python and JVM garbage collection, only ever between passes."""
    gc.collect()
    spark._jvm.System.gc()


def _normalised(cols: list[str], rows) -> list[tuple]:
    from check_oracle import norm

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))


def _oracle_check(data_dir: str, outputs: dict) -> dict:
    """Compare each row's collected output (name -> (columns, rows)) with
    its oracle SQL in DuckDB over ``data_dir``.  Returns row name ->
    mismatch description."""
    oracles = _oracles()
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    wrong = {}
    for name, (got_cols, got_rows) in outputs.items():
        got = _normalised(got_cols, got_rows)
        cur = con.execute(oracles[name])
        cols = [c[0] for c in cur.description]
        want = _normalised(cols, cur.fetchall())
        if sorted(cols) != sorted(got_cols):
            wrong[name] = f"columns {sorted(got_cols)}, the oracle's {sorted(cols)}"
        elif got != want:
            diff = Counter(map(repr, got))
            diff.subtract(Counter(map(repr, want)))
            bad = sum(abs(n) for n in diff.values())
            wrong[name] = (f"{bad} rows differ between the output ({len(got)} rows) "
                           f"and the oracle ({len(want)} rows)")
    con.close()
    return wrong


def prepare(run: Run, data_dir: str) -> tuple[float, dict]:
    queries = _queries()

    def setup_once(i: int) -> dict:
        """Read the inputs and build every row's DataFrame: the engine's
        construction work (the BFS loop of ``q_bfs_levels`` runs here),
        before anything is written."""
        for t in INPUTS:
            run.spark.read.parquet(f"{data_dir}/{t}.parquet").count()
        return {name: fn(run.spark, data_dir) for name, fn in queries.items()}

    # the first set-up also pays for the cold JVM; the median leaves it out
    setup_s, samples, frames = timed_setup(setup_once)
    # untimed warm-up of the execution: the last set-up's rows written the
    # way the timed passes write them, then collected for the oracle check
    t0 = time.perf_counter()
    for df in frames.values():
        df.write.format("noop").mode("overwrite").save()
    warm_s = time.perf_counter() - t0
    outputs = {name: (df.columns, df.collect()) for name, df in frames.items()}
    _reclaim(run.spark)
    run.details.update({"setup_samples_s": [round(s, 3) for s in samples],
                        "warmup_s": round(warm_s, 3)})
    return setup_s, {"data_dir": data_dir, "queries": queries, "outputs": outputs,
                     "warm_s": warm_s, "wrong": None}


def measure(run: Run, state: dict) -> Loop:
    passes: list[float] = []
    loop = Loop().begin()
    for k in range(max(1, round(run.seconds / PASS_S))):
        if k:
            _reclaim(run.spark)
        passes.append(_pass(run, state["data_dir"], state["queries"]))
    loop.finish()
    _reclaim(run.spark)
    run.details["passes_s"] = [round(p, 3) for p in passes]
    state["passes"] = passes
    return loop


def verify(run: Run, state: dict) -> None:
    """The oracle check, once per run after the timed loop, on the rows the
    set-up collected; a row whose output differs from its oracle fails its
    timed operations."""
    if state["wrong"] is None:
        state["wrong"] = _oracle_check(state["data_dir"], state["outputs"])
    for i, o in enumerate(run.ops):
        if o.kind in state["wrong"]:
            run.fail(i, f"{o.kind}: {state['wrong'][o.kind]}")


def per_layer(run: Run, att: Attribution, loop: Loop, state: dict) -> dict:
    spans = run.tracer.spans
    n_pass = len(state["passes"])
    root_kind = {i: spans[att.root(i)].name[3:] for i in range(len(spans))}

    def span_s(row: str, name: str) -> list[float]:
        return [s.ms / 1000.0 for i, s in enumerate(spans)
                if s.name == name and root_kind[i] == row]

    def jobs(name: str, rows=ROWS) -> list:
        return att.jobs_where(lambda i: spans[i].name == name and root_kind[i] in rows)

    all_jobs = att.jobs_where(lambda i: root_kind[i] in ROWS)
    _, n_stages = att.stage_totals(all_jobs)
    out = {
        "analytics.pass_s": stats.median(state["passes"]),
        "analytics.warmup_s": state["warm_s"],
        "analytics.construct_s": sum(s.ms for s in spans
                                     if s.name == "analytics.construct") / 1000.0 / n_pass,
        "analytics.construct_jobs": len(jobs("analytics.construct")) / n_pass,
        "analytics.exec_s": sum(s.ms for s in spans
                                if s.name == "analytics.execute") / 1000.0 / n_pass,
        "analytics.jobs": len(all_jobs) / n_pass,
        "analytics.stages": n_stages / n_pass,
        "graphs.construct_s": sum(sum(span_s(r, "analytics.construct"))
                                  for r in GRAPH_ROWS) / n_pass,
        "spark.exec_ms": stats.median([s.ms for s in spans
                                       if s.name == "analytics.execute"]),
    }
    for r in ROWS:
        out[f"row.{r}.construct_s"] = stats.median(span_s(r, "analytics.construct"))
        out[f"row.{r}.exec_s"] = stats.median(span_s(r, "analytics.execute"))
        out[f"row.{r}.construct_jobs"] = len(jobs("analytics.construct", (r,))) / n_pass
    return out
