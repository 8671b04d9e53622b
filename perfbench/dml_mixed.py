"""dml_mixed: point DML with versioning, current and AS OF MATCH reads,
COMMIT + GC, and restore, on a fresh Database seeded from the TPC-H tables.

The database, temporal and snapshot layers do all their work here.  The
loop runs a fixed schedule of rounds, so every run (and every commit
compared) does the same operations in the same order and the edge frame
grows the same way: point ``connect`` calls union a fresh frame per flush
and nothing compacts edges, which shows as
``database.edge_partitions_end`` and ``database.read_drift``.

Every read is checked against a driver-side model of the graph with its
version history.  Each read covers the rows the loop has changed — the
updated, the deleted and the old-node-connected accounts, and the newest
ids.  The AS OF read looks at a time after the round's first delete and
update and before its second delete, so it has to pick the updated
account's newer version, hide the first deleted account and still see the
second.  After each restore the next ``create_node`` id must be the
model's max + 1.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import stats
from harness import Loop, OpFailed, Run, timed_setup, tundraql_read
from layers import Attribution, read_counts, span_p50

#: one round of the schedule; every round ends with commit + gc + restore.
#: Half of the connects start at a just-created node (the driver-side
#: fast path); reads alternate with connects so each read flushes the
#: pending edges into a new frame, as an interactive client would.
ROUND = ("create", "connect_new", "delete", "update", "connect_old", "read",
         "create", "connect_new", "delete", "asof_read", "read")
WRITES = ("update", "create", "connect_new", "connect_old", "delete")
#: nominal seconds one round takes at the current head on 4 cores; the
#: round count is ``--seconds`` / this, so it is fixed for a given setting
ROUND_S = 20.0
CLOCK_START = 1_000
READ_KINDS = ("read", "asof_read")
#: every read also covers the newest ids, where creates and fast-path
#: connects land
WINDOW = 16


class Model:
    """The expected graph: account version chains, live orders, edges."""

    def __init__(self, data_dir: str, max_ts: int) -> None:
        cust = pq.read_table(f"{data_dir}/customer.parquet",
                             columns=["c_custkey", "c_acctbal"])
        orders = pq.read_table(f"{data_dir}/orders.parquet",
                               columns=["o_orderkey", "o_custkey"])
        self.max_ts = max_ts
        keys = cust.column("c_custkey").to_pylist()
        if keys != list(range(len(keys))):
            raise RuntimeError("customer keys are not dense")
        bals = cust.column("c_acctbal").to_pylist()
        #: id -> version rows [valid_from, valid_to, version_id, bal]
        self.acct: dict[int, list[list]] = {i: [[0, max_ts, 0, b]] for i, b in enumerate(bals)}
        self.n_bulk = len(keys)
        self.n_orders = orders.num_rows
        self.ord_from = 0
        self.out: dict[int, list[int]] = {}
        for s, t in zip(orders.column("o_custkey").to_pylist(),
                        orders.column("o_orderkey").to_pylist()):
            self.out.setdefault(s, []).append(t)
        self.next_id = len(keys)

    def stamp_bulk(self, acct_ts: int, ord_ts: int) -> None:
        for chain in self.acct.values():
            chain[0][0] = acct_ts
        self.ord_from = ord_ts

    def live(self, i: int) -> bool:
        return i in self.acct and self.acct[i][-1][1] == self.max_ts

    def candidates(self) -> list[int]:
        """Live bulk accounts with orders: a change to one shows in a read."""
        return [i for i in range(self.n_bulk) if self.live(i) and i in self.out]

    def update(self, i: int, bal: float, ts: int) -> None:
        head = self.acct[i][-1]
        head[1] = ts
        self.acct[i].append([ts, self.max_ts, head[2] + 1, bal])

    def create(self, i: int, bal: float, ts: int) -> None:
        self.acct[i] = [[ts, self.max_ts, 0, bal]]
        self.next_id = i + 1

    def delete(self, i: int, ts: int) -> None:
        self.acct[i][-1][1] = ts

    def connect(self, s: int, t: int) -> None:
        self.out.setdefault(s, []).append(t)

    def read(self, ids, vt: int | None = None) -> list[tuple]:
        rows = []
        for i in sorted(set(ids)):
            chain = self.acct.get(i)
            if chain is None:
                continue
            if vt is None:
                v = chain[-1] if chain[-1][1] == self.max_ts else None
            else:
                vis = [c for c in chain if c[0] <= vt < c[1]]
                v = max(vis, key=lambda c: c[2]) if vis else None
            if v is None or (vt is not None and vt < self.ord_from):
                continue
            rows.extend((i, v[3], t) for t in self.out.get(i, []))
        return sorted(rows)


def plan_round(rng, model: Model) -> dict:
    """Draw every parameter of one round from the seeded generator: four
    distinct accounts to update, connect from and delete (two), the
    balances, the order targets, and where between the update and the
    second delete the AS OF read looks."""
    upd, old, *dele = rng.sample(model.candidates(), 2 + ROUND.count("delete"))
    bal = round(rng.uniform(-999.0, 9999.0), 2)
    if bal == model.acct[upd][-1][3]:
        bal += 0.5
    n_new = ROUND.count("create")
    return {
        "update": (upd, bal),
        "connect_old": (old, rng.randrange(model.n_orders)),
        "delete": dele,
        "create": [round(rng.uniform(0.0, 5000.0), 2) for _ in range(n_new)],
        "connect_new": [rng.randrange(model.n_orders) for _ in range(n_new)],
        "vt": rng.random(),
    }


def read_ids(model: Model, touched) -> tuple[int, int, list[int]]:
    """What a read covers: the newest ``WINDOW`` ids and every account the
    loop has changed."""
    hi = model.next_id
    return max(0, hi - WINDOW), hi, sorted(set(touched))


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def check(got, want: list[tuple], what: str) -> None:
    got = _rows(got)
    if got != want:
        missing, extra = set(want) - set(got), set(got) - set(want)
        raise OpFailed(f"{what}: {len(got)} rows, model has {len(want)}; "
                       f"{len(missing)} missing, {len(extra)} not in the model")


def _read_text(lo: int, hi: int, extra=(), vt: int | None = None) -> str:
    as_of = f" AS OF {vt}" if vt is not None else ""
    where = f"(a.id >= {lo} AND a.id < {hi})" + "".join(f" OR a.id = {i}" for i in extra)
    return (f"MATCH (a:acct)-[:PLACED]->(o:ord){as_of} "
            f"WHERE {where} SELECT a.id, a.bal, o.id;")


def _seed_db(spark, data_dir: str, path: str):
    from pyspark.sql import functions as F

    from tundradb_spark import Database
    from tundradb_spark.temporal import MockClock

    clock = MockClock(start=CLOCK_START)
    db = Database(spark, path=path, versioning=True, clock=clock)
    db.create_schema("acct", {"name": "string", "bal": "double", "seg": "string"})
    db.create_schema("ord", {"price": "double", "status": "string"})
    cust = spark.read.parquet(f"{data_dir}/customer.parquet")
    orders = spark.read.parquet(f"{data_dir}/orders.parquet")
    db.bulk_insert("acct", cust.select(F.col("c_name").alias("name"),
                                       F.col("c_acctbal").alias("bal"),
                                       F.col("c_mktsegment").alias("seg")))
    acct_ts = clock.advance(0)
    db.bulk_insert("ord", orders.select(F.col("o_totalprice").alias("price"),
                                        F.col("o_orderstatus").alias("status")))
    ord_ts = clock.advance(0)
    db.bulk_connect("PLACED", orders.select(F.col("o_custkey").alias("source_id"),
                                            F.col("o_orderkey").alias("target_id")))
    db.commit()
    return db, clock, acct_ts, ord_ts


def prepare(run: Run, data_dir: str) -> tuple[float, dict]:
    from tundradb_spark.catalog import MAX_TS as max_ts

    seeded: list = []

    def setup_once(i) -> None:
        path = os.path.join(run.work, f"db{i}")
        shutil.rmtree(path, ignore_errors=True)
        seeded.append((path, *_seed_db(run.spark, data_dir, path)))

    # untimed warm-up before the timed set-ups, so that they do not pay for
    # the cold JVM: a seeding, then every statement shape the loop runs
    # (the current read is warmed on the measured database, in ``measure``)
    setup_once("warm")
    _, warm_db, _, _, ord_ts = seeded.pop()
    warm_db.update_by_id("acct", 0, {"bal": 1.0})
    warm_db.connect("PLACED", ("acct", 0), ("ord", 0))
    warm_db.delete_node("acct", 1)
    warm_db.sql(_read_text(0, 16, (20, 30), ord_ts)).collect()
    # each measured loop then takes a fresh database of its own, newest first
    setup_s, samples, _ = timed_setup(setup_once)
    run.details["setup_samples_s"] = [round(s, 3) for s in samples]
    return setup_s, {"seeded": seeded, "data_dir": data_dir, "max_ts": max_ts}


def measure(run: Run, state: dict) -> Loop:
    path, db, clock, acct_ts, ord_ts = state["seeded"].pop()
    model = Model(state["data_dir"], state["max_ts"])
    model.stamp_bulk(acct_ts, ord_ts)
    rng, tr = run.rng, run.tracer
    touched: list[int] = []
    history: list[int] = []  # op timestamps an AS OF read may pick
    n_rounds = max(1, round(run.seconds / ROUND_S))
    drift_reads: list[float] = []
    sizes: list[float] = []
    reuse: list[float] = []
    reclaimed: list[int] = []

    def read(kind: str, on, vt: int | None = None) -> None:
        lo, hi, extra = read_ids(model, touched)
        got = tundraql_read(run, on, _read_text(lo, hi, extra, vt))
        check(got, model.read([*range(lo, hi), *extra], vt), kind)

    # one untimed read, so the first timed one is not the database's first
    db.sql(_read_text(*read_ids(model, touched))).collect()
    loop = Loop().begin()
    for _ in range(n_rounds):
        plan = plan_round(rng, model)
        creates, new_targets = iter(plan["create"]), iter(plan["connect_new"])
        deletes = iter(plan["delete"])
        last_created = t_update = None
        for kind in ROUND:
            if kind == "update":
                i, bal = plan["update"]
                with run.op(kind), tr.span("database.update"):
                    db.update_by_id("acct", i, {"bal": bal})
                t_update = clock.advance(0)
                model.update(i, bal, t_update)
                touched.append(i)
            elif kind == "create":
                bal = next(creates)
                with run.op(kind):
                    with tr.span("database.create"):
                        nid = db.create_node("acct", name=f"New#{model.next_id}",
                                             bal=bal, seg="NEW")
                    if nid != model.next_id:
                        raise OpFailed(f"create_node id {nid}, model expects {model.next_id}")
                model.create(nid, bal, clock.advance(0))
                last_created = nid
            elif kind in ("connect_new", "connect_old"):
                if kind == "connect_new":
                    src, tgt = last_created, next(new_targets)
                else:
                    src, tgt = plan["connect_old"]
                    touched.append(src)
                with run.op(kind), tr.span("database.connect"):
                    db.connect("PLACED", ("acct", src), ("ord", tgt))
                model.connect(src, tgt)
            elif kind == "delete":
                i = next(deletes)
                with run.op(kind), tr.span("database.delete"):
                    db.delete_node("acct", i)
                model.delete(i, clock.advance(0))
                touched.append(i)
            else:
                vt = None
                if kind == "asof_read":
                    # a time after the update and before the second delete
                    t_delete = model.acct[plan["delete"][-1]][-1][1]
                    between = [t for t in history if t_update <= t < t_delete]
                    vt = between[int(plan["vt"] * len(between))]
                with run.op(kind):
                    read(kind, db, vt)
                if kind == "read":
                    drift_reads.append(run.ops[-1].ms)
            history.append(clock.advance(0))
        before = _tree_bytes(path)
        with run.op("commit"), tr.span("snapshot.commit"):
            snap_dir = db.commit()
        committed = _tree_bytes(path)
        sizes.append(committed - before)
        reuse.append(_reuse(snap_dir))
        # keep only the new snapshot: gc reclaims the tables of the previous
        # one that the new one does not carry
        with run.op("gc"), tr.span("snapshot.gc"):
            db.gc_snapshots(keep_last=1)
        reclaimed.append(committed - _tree_bytes(path))
        with run.op("restore"):
            from tundradb_spark import Database

            with tr.span("snapshot.open"):
                reopened = Database(run.spark, path=path)
            with tr.span("snapshot.first_read"):
                read("read after restore", reopened)
        nid = reopened.create_node("acct", name="probe", bal=0.0, seg="NEW")
        if nid != model.next_id:
            run.fail(len(run.ops) - 1,
                     f"create_node after restore gave id {nid}, expected {model.next_id}")
    loop.finish()
    run.details.update({
        "rounds": n_rounds,
        "drift_reads_ms": [round(x, 1) for x in drift_reads],
        "commit_bytes": sizes,
        "gc_reclaimed_bytes": reclaimed,
    })
    state["last"] = {"db": db, "path": path, "drift": drift_reads,
                     "sizes": sizes, "reuse": reuse}
    return loop


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _reuse(snap_dir: str) -> float:
    """Share of the manifest's tables carried over from earlier snapshots."""
    import json

    with open(os.path.join(snap_dir, "manifest.json")) as fh:
        m = json.load(fh)
    sid = str(m["snapshot_id"])
    rels = list(m["nodes"].values()) + list(m["edges"].values())
    carried = [r for r in rels if r.split("/")[1] != sid]
    return len(carried) / len(rels)


def verify(run: Run, state: dict) -> None:
    """Reads were checked in the loop, against the model."""


def drift(reads: list[float]) -> float:
    """Median read latency in the loop's last quarter over its first."""
    q = max(1, len(reads) // 4)
    return stats.median(reads[-q:]) / stats.median(reads[:q])


def layer_state(run: Run, state: dict) -> dict:
    """Engine state after the traced loop, read untimed."""
    last = state["last"]
    db = last["db"]
    versions = db.get_table_versions("acct").count()
    live = db.get_table("acct").count()
    return {
        "database.node_partitions_end": float(db.get_table("acct").rdd.getNumPartitions()),
        "database.edge_partitions_end": float(db.get_edge_table("PLACED").rdd.getNumPartitions()),
        "database.read_drift": drift(last["drift"]),
        "temporal.versions_per_row": versions / live,
        "snapshot.bytes_per_commit": stats.median(last["sizes"]) / 2**20,
        "snapshot.reuse_ratio": stats.median(last["reuse"]),
        "snapshot.store_mb": _tree_bytes(last["path"]) / 2**20,
    }


def per_layer(run: Run, att: Attribution, loop: Loop, state: dict) -> dict:
    spans = run.tracer.spans
    ops = run.ops
    n_reads = len([o for o in ops if o.kind in READ_KINDS])
    writes = [o for o in ops if o.kind in WRITES]
    commits = [o for o in ops if o.kind == "commit"]
    lat = lambda *k: stats.median(run.latencies(*k)) if run.latencies(*k) else 0.0  # noqa: E731
    plan = run.details.get("plan_ms", [])
    return {
        "ql.parse_ms": span_p50(spans, "ql.parse"),
        "match.construct_ms": span_p50(spans, "match.construct"),
        **read_counts(att, READ_KINDS, n_reads),
        "spark.plan_ms": stats.median(plan) if plan else 0.0,
        "spark.exec_ms": span_p50(spans, "spark.execute"),
        "database.update_ms": lat("update"),
        "database.create_ms": lat("create"),
        "database.connect_ms": lat("connect_new", "connect_old"),
        "database.connect_new_ms": lat("connect_new"),
        "database.connect_old_ms": lat("connect_old"),
        "database.delete_ms": lat("delete"),
        "database.write_p50_ms": lat(*WRITES),
        "database.jobs_per_write": len(att.in_op(*WRITES)) / max(len(writes), 1),
        "temporal.current_read_ms": lat("read"),
        "temporal.asof_read_ms": lat("asof_read"),
        "snapshot.commit_ms": lat("commit"),
        "snapshot.commit_jobs": len(att.in_op("commit")) / max(len(commits), 1),
        "snapshot.restore_ms": lat("restore"),
        "snapshot.open_ms": span_p50(spans, "snapshot.open"),
        "snapshot.first_read_ms": span_p50(spans, "snapshot.first_read"),
        "snapshot.gc_ms": lat("gc"),
    }
