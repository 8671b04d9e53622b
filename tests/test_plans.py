"""Physical-plan regression tests: pin the scale-critical plan properties
(pushdown, pruning, broadcast, no nested-loop joins, bounded shuffles) for
the headline driver-contract queries at sf0.001. A change that silently
de-optimizes a plan fails here instead of surfacing as a cluster slowdown.
"""

import os

import pytest

import __spark_entry__ as entry
from tundradb_spark.plans import audit

SF = "/root/testdata/sf0.001"

def _q(name):
    """Look up a query across the seated AND parked registries — plan
    shapes are pinned regardless of which side of the driver's 50-slot
    rotation a query currently sits on."""
    return {**entry.queries(), **entry.parked_queries()}[name]



@pytest.fixture(scope="module")
def qdfs(spark):
    qs = {**entry.queries(), **entry.parked_queries()}
    return {name: qs[name](spark, SF) for name in (
        "q_scan_filter", "q_inner_join", "q_two_hop", "q_edge_props",
        "q_agg_pricing", "q_semi_join", "q_asof_join", "q_range_join",
        "q_temporal_asof",
    )}


def test_scan_filter_pushdown_and_pruning(qdfs):
    df = qdfs["q_scan_filter"]
    # the acctbal predicate must reach the parquet scan...
    audit.assert_filter_pushed(df, "c_acctbal")
    # ...and untouched columns must not be read at all
    audit.assert_column_pruned(df, "c_nationkey")


def test_inner_join_broadcasts_dimension(qdfs):
    # nation (25 rows) must broadcast, never shuffle the fact side
    audit.assert_broadcast(qdfs["q_inner_join"], at_least=1)
    audit.assert_no_nested_loop(qdfs["q_inner_join"])


def test_two_hop_all_broadcast_no_shuffle(qdfs):
    df = qdfs["q_two_hop"]
    # both dimension hops broadcast → ZERO shuffle exchanges end-to-end
    audit.assert_broadcast(df, at_least=2)
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)


def test_edge_props_filter_pushdown(qdfs):
    df = qdfs["q_edge_props"]
    # edge-property predicate (l_quantity) and node predicate (p_size) both
    # reach their scans
    audit.assert_filter_pushed(df, "l_quantity")
    audit.assert_filter_pushed(df, "p_size")
    audit.assert_no_nested_loop(df)


def test_agg_partial_before_shuffle(qdfs):
    # Q1-shaped agg: exactly one shuffle (the final groupBy exchange);
    # map-side partial aggregation keeps shuffle volume at
    # distinct-groups × tasks
    df = qdfs["q_agg_pricing"]
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    assert "partial" in audit.formatted_plan(df).lower()


def test_no_nested_loops_anywhere(qdfs):
    for name, df in qdfs.items():
        audit.assert_no_nested_loop(df)


def test_asof_single_shuffle(qdfs):
    # union-sort as-of join: at most one shuffle for the window partition
    # (plus none for the unions)
    df = qdfs["q_asof_join"]
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)


def test_temporal_filter_pushdown(qdfs):
    # The AS-OF interval filter must reach the scans. Here the version
    # columns are synthesized from literals (load_versioned_orders), so
    # Catalyst constant-folds `valid_from <= vt < valid_to` per union branch
    # down to the branch's defining predicate (o_orderstatus) — i.e. the
    # visibility condition became a pushed parquet filter, which is exactly
    # the behavior that prunes invisible version rows at scan time on a
    # physical version-history table.
    df = qdfs["q_temporal_asof"]
    pushed = " ".join(audit.scan_pushed_filters(df))
    assert "o_orderstatus" in pushed, pushed


def test_sessionize_single_shuffle_partial_merge(spark):
    # native session_window agg: ONE shuffle (the user/session exchange)
    # with map-side partial merge before it — the plan that scales to an
    # unbounded event stream
    df = _q("q_sessionize")(spark, SF)
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    assert "partial" in audit.formatted_plan(df).lower()


def test_lr_calibration_single_corpus_exchange(spark):
    # r13: q_lr_calibration scores with the INLINE fold (lr_prob_col —
    # prob and label on the same row, no design groupBy, no join back),
    # so the ONLY corpus-sized exchange is calibration_bins' 10-row
    # map-side-combined groupBy
    df = _q("q_lr_calibration")(spark, SF)
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    assert "partial" in audit.formatted_plan(df).lower()


def test_calibrated_gate_inline_scorer_no_design_shuffle(spark):
    # r13: the gate side of q_calibrated_gate filters with the inline
    # expression — after the bounded threshold pick, the corpus pays the
    # per-lang groupBy and nothing else (no design-matrix exchange, no
    # join of a score frame)
    df = _q("q_calibrated_gate")(spark, SF)
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)


def test_ivf_no_nested_loop_and_pruned_probe(spark):
    # IVF probe: candidate filter is a literal cell predicate (scan-side
    # with cell-partitioned storage); no nested-loop anywhere, and the
    # assignment must not force a shuffle — TakeOrderedAndProject handles
    # the top-k without a global sort
    df = _q("q_ann_ivf")(spark, SF)
    audit.assert_no_nested_loop(df)
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)
    assert "TakeOrderedAndProject" in audit.simple_plan(df)


def test_signature_index_probe_prunes_files(spark, tmp_path):
    # r6: the persisted MinHash signature table is band-partitioned so the
    # incremental-dedup probe prunes index FILES — the same layout story as
    # the ANN indexes (the r5 verdict's worst scale ratio came from this
    # probe scanning the whole signature table)
    from tundradb_spark.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    new = docs.filter("doc_id % 7 = 0")
    corpus = docs.filter("doc_id % 7 != 0")
    path = str(tmp_path / "sig_index")
    dedup.write_signature_index(corpus, path)
    df = dedup.incremental_dup_pairs_indexed(spark, new, path)
    audit.assert_partition_pruned(df, "band_bucket")
    audit.assert_no_nested_loop(df)
    # identical pairs to the non-indexed probe over the same corpus
    compute = dedup.incremental_dup_pairs(new, corpus)
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, compute.collect())
    )
    # physical proof: drop every (band_idx, band_bucket) directory the
    # batch does not hash into — the pruned probe must never notice
    import shutil

    from pyspark.sql import functions as F

    probed = {
        (int(r["band_idx"]), int(r["band_bucket"]))
        for r in dedup._banded(
            dedup.minhash_signature(new), "doc_id", 4, 3
        )
        .withColumn("band_bucket", dedup._band_bucket(64))
        .select("band_idx", "band_bucket")
        .distinct()
        .collect()
    }
    removed = 0
    for bdir in os.listdir(path):
        if not bdir.startswith("band_idx="):
            continue
        i = int(bdir.split("=")[1])
        for kdir in os.listdir(os.path.join(path, bdir)):
            if not kdir.startswith("band_bucket="):
                continue
            if (i, int(kdir.split("=")[1])) not in probed:
                shutil.rmtree(os.path.join(path, bdir, kdir))
                removed += 1
    assert removed > 0  # the layout actually had prunable buckets
    again = dedup.incremental_dup_pairs_indexed(spark, new, path)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, compute.collect())
    )


def test_ivf_indexed_probe_prunes_files(spark, tmp_path):
    # the 100 TB storage story: corpus persisted partitionBy('cell'), probe
    # scan must carry a pruning PartitionFilter (cell IN ...) — files of
    # non-probed cells are never opened — and stay TakeOrderedAndProject
    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id != 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "ivf_index")
    similarity.index_corpus(corpus, path, n_cells=16, seed=11)
    df = similarity.ivf_ann_topk_indexed(
        spark, path, q, 10, n_cells=16, n_probe=4, seed=11
    )
    audit.assert_partition_pruned(df, "cell")
    audit.assert_no_nested_loop(df)
    assert "TakeOrderedAndProject" in audit.simple_plan(df)
    # identical results to the compute path (same quantizer, exact re-rank)
    compute = similarity.ivf_ann_topk(
        corpus, q, 10, n_cells=16, n_probe=4, seed=11
    )
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in compute.collect()
    ]
    # physical proof of file pruning: delete every NON-probed cell directory
    # and re-probe — identical results, because the pruned scan never opens
    # those files (a post-scan filter would crash on the missing parquet)
    import shutil

    probed = set(similarity.probe_cells(q, 16, 4, 11))
    removed = 0
    for d in os.listdir(path):
        if d.startswith("cell=") and int(d.split("=")[1]) not in probed:
            shutil.rmtree(os.path.join(path, d))
            removed += 1
    assert removed > 0  # the layout actually had prunable cells
    again = similarity.ivf_ann_topk_indexed(
        spark, path, q, 10, n_cells=16, n_probe=4, seed=11
    )
    assert [tuple(r) for r in again.collect()] == [
        tuple(r) for r in compute.collect()
    ]


def test_lsh_indexed_probe_prunes_files(spark, tmp_path):
    # the 'dirs' inverted-file layout: probe must read only the query's
    # (band_idx, band_key) directories and match the compute path exactly
    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id != 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "lsh_index")
    similarity.index_corpus_lsh(
        corpus, path, n_planes=16, band_bits=8, layout="dirs"
    )
    df = similarity.lsh_ann_topk_indexed(
        spark, path, q, 10, n_planes=16, band_bits=8
    )
    audit.assert_partition_pruned(df, "band_key")
    compute = similarity.lsh_ann_topk(corpus, q, 10, n_planes=16, band_bits=8)
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in compute.collect()
    ]
    # physical pruning proof: drop every band_key directory outside the
    # query's Hamming-2 probe ball; the pruned scan must never notice
    import shutil

    from tundradb_spark.pipeline.hashing import hyperplanes

    planes = hyperplanes(16, len(q), 7)
    qsig = sum(
        1 << p
        for p, plane in enumerate(planes)
        if sum(a * b for a, b in zip(q, plane)) > 0
    )
    removed = 0
    for bdir in os.listdir(path):
        if not bdir.startswith("band_idx="):
            continue
        i = int(bdir.split("=")[1])
        keep = set(similarity.hamming_ball((qsig >> (i * 8)) & 0xFF, 8, 2))
        for kdir in os.listdir(os.path.join(path, bdir)):
            if kdir.startswith("band_key=") and int(kdir.split("=")[1]) not in keep:
                shutil.rmtree(os.path.join(path, bdir, kdir))
                removed += 1
    assert removed > 0
    again = similarity.lsh_ann_topk_indexed(
        spark, path, q, 10, n_planes=16, band_bits=8
    )
    assert [tuple(r) for r in again.collect()] == [
        tuple(r) for r in compute.collect()
    ]


def test_lsh_sorted_layout_probe_matches_and_stays_dense(spark, tmp_path):
    # r7 (r6 verdict item 4): the default 'sorted' layout — bands
    # directories, range-partitioned band_key-sorted files — must
    # (a) match the compute path exactly through the SAME prober,
    # (b) keep band_idx as a partition filter and push band_key down to
    # the scan (footer min/max stats on the sorted column carry the
    # pruning the directory tree used to), (c) actually have the
    # pruning property: every file sorted by band_key, files within a
    # band covering DISJOINT ranges (write parallelism comes from the
    # range partitioner — one-task-per-band would straggle at scale)
    import os

    import pyarrow.parquet as pq

    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id != 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "lsh_sorted")
    similarity.index_corpus_lsh(corpus, path, n_planes=16, band_bits=8)
    assert similarity.load_quantizer(path)["layout"] == "sorted"
    df = similarity.lsh_ann_topk_indexed(
        spark, path, q, 10, n_planes=16, band_bits=8
    )
    audit.assert_partition_pruned(df, "band_idx")
    audit.assert_filter_pushed(df, "band_key")
    compute = similarity.lsh_ann_topk(corpus, q, 10, n_planes=16, band_bits=8)
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in compute.collect()
    ]
    band_dirs = [d for d in os.listdir(path) if d.startswith("band_idx=")]
    assert len(band_dirs) == 2  # 16 planes / 8 bits
    for d in band_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert files, d
        ranges = []
        for f in files:
            ks = (
                pq.read_table(os.path.join(path, d, f), columns=["band_key"])
                .column("band_key")
                .to_pylist()
            )
            assert ks == sorted(ks), (d, f)  # sorted within the file
            ranges.append((ks[0], ks[-1]))
        ranges.sort()
        for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
            assert hi_a <= lo_b, (d, ranges)  # disjoint file ranges


def test_q_ann_ivf_index_flag_equivalent(spark, monkeypatch):
    # TUNDRA_ANN_USE_INDEX=1 switches q_ann_ivf/q_ann_pq to their indexed
    # paths with byte-identical results — contract rows green either way
    base_ivf = [tuple(r) for r in _q("q_ann_ivf")(spark, SF).collect()]
    base_pq = [tuple(r) for r in _q("q_ann_pq")(spark, SF).collect()]
    base_lsh = [tuple(r) for r in _q("q_ann_lsh")(spark, SF).collect()]
    monkeypatch.setenv("TUNDRA_ANN_USE_INDEX", "1")
    indexed_df = _q("q_ann_ivf")(spark, SF)
    audit.assert_partition_pruned(indexed_df, "cell")
    assert [tuple(r) for r in indexed_df.collect()] == base_ivf
    assert [
        tuple(r) for r in _q("q_ann_pq")(spark, SF).collect()
    ] == base_pq
    # r6: the lsh flag previously fell through to the compute path — now
    # a real banded-inverted-file probe, pruned and result-identical.
    # r7 sorted layout: band_idx is the partition filter; band_key prunes
    # via parquet row-group stats (pushed scan filter on the sorted col)
    indexed_lsh = _q("q_ann_lsh")(spark, SF)
    audit.assert_partition_pruned(indexed_lsh, "band_idx")
    audit.assert_filter_pushed(indexed_lsh, "band_key")
    assert [tuple(r) for r in indexed_lsh.collect()] == base_lsh


def test_text_ops_narrow_and_pushed(spark):
    # repetition + PII scans must stay single-projection narrow plans:
    # repetition's only exchange is the top-k (TakeOrderedAndProject — none),
    # PII's single exchange is the segment aggregate
    rep = _q("q_text_repetition")(spark, SF)
    assert "TakeOrderedAndProject" in audit.simple_plan(rep)
    assert audit.count_exchanges(rep) == 0, audit.formatted_plan(rep)
    pii = _q("q_pii_scan")(spark, SF)
    # one aggregate exchange per tagged branch: segment counts, documents
    # summary, and (r5) the redaction digest rollup
    assert audit.count_exchanges(pii) <= 3, audit.formatted_plan(pii)
    audit.assert_no_nested_loop(pii)


def test_quantiles_single_shuffle_partial(spark):
    # exact percentile: one exchange on the group key, partial map-side
    df = _q("q_quantiles")(spark, SF)
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    assert "partial" in audit.formatted_plan(df).lower()


def test_ann_topk_no_global_sort(spark):
    df = _q("q_ann_topk")(spark, SF)
    assert "TakeOrderedAndProject" in audit.simple_plan(df)
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)


def test_pq_indexed_probe_equals_compute(spark, tmp_path):
    # encode-once index: the probe over precomputed codes must match the
    # compute path exactly and read no embedding-encode expressions
    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id != 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "pq_index")
    similarity.index_corpus_pq(corpus, path, m=8, n_codes=16)
    idx = similarity.pq_ann_topk_indexed(spark, path, q, 10, refine=50)
    cmp_ = similarity.pq_ann_topk(corpus, q, 10, refine=50)
    assert [tuple(r) for r in idx.collect()] == [tuple(r) for r in cmp_.collect()]
    assert audit.count_exchanges(idx) == 0, audit.formatted_plan(idx)


def test_ivfpq_indexed_prunes_and_degrades_to_exact(spark, tmp_path):
    # the composed billion-scale layout: cell dirs pruned at file level,
    # ADC over precomputed codes, exact refine; full probe + full refine
    # must EQUAL exact cosine top-k
    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter("vec_id != 0")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    path = str(tmp_path / "ivfpq_index")
    similarity.index_corpus_ivfpq(corpus, path, n_cells=16, m=8, n_codes=16)
    df = similarity.ivfpq_ann_topk_indexed(
        spark, path, q, 10, n_probe=4, refine=50
    )
    audit.assert_partition_pruned(df, "cell")
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)
    # degradation pin: every cell probed + everything refined == exact
    full = similarity.ivfpq_ann_topk_indexed(
        spark, path, q, 10, n_probe=16, refine=10_000_000
    )
    exact = similarity.cosine_topk(corpus, q, 10)
    assert [tuple(r) for r in full.collect()] == [
        tuple(r) for r in exact.collect()
    ]


def test_pq_two_stage_no_shuffle_no_sort(spark):
    # PQ = ADC coarse top-refine + exact re-rank: BOTH stages must be
    # TakeOrderedAndProject (local top-k per partition, driver merge),
    # zero shuffle exchanges end-to-end
    df = _q("q_ann_pq")(spark, SF)
    assert audit.simple_plan(df).count("TakeOrderedAndProject") >= 2
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)
    audit.assert_no_nested_loop(df)


def test_decontaminate_broadcast_probe(spark):
    # the benchmark gram universe must BROADCAST (the corpus is never
    # shuffled for the membership probe); the only exchange is the per-doc
    # aggregation + the top-k, and nothing degenerates to a nested loop
    from tundradb_spark.pipeline.queries import q_decontaminate

    df = q_decontaminate(spark, SF)
    audit.assert_broadcast(df, at_least=1)
    audit.assert_no_nested_loop(df)
    assert audit.count_exchanges(df) <= 2, audit.formatted_plan(df)


def test_dsir_ratio_broadcast_no_nested_loop(spark):
    """The <=n_buckets-row log-ratio table must BROADCAST to the exploded
    raw features — shuffling the feature stream on bucket would be the
    scale-killer at corpus size."""
    from tundradb_spark.pipeline.importance import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter("doc_id % 10 = 0")
    raw = docs.filter("doc_id % 10 != 0")
    df = dsir_weights(raw, target, n_buckets=256)
    audit.assert_broadcast(df, at_least=1)
    # the feature stream must never sort-merge on bucket; the only
    # BroadcastNestedLoopJoins allowed are the 1-row scalar-total cross
    # joins (the lm_scores pattern)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin Inner" in plan.replace("\n", " ") or (
        "BroadcastHashJoin" in plan
    )


def test_pack_chunks_single_exchange(spark):
    """Packing shards by doc-id hash: exactly ONE hash-partition shuffle
    (the shard exchange) feeds both windows — a global running sum (a
    single-partition window) would show an extra Exchange SinglePartition."""
    from tundradb_spark.pipeline.sampling import chunk_docs, pack_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = pack_chunks(chunk_docs(docs, chunk_tokens=16), seq_tokens=64,
                         n_shards=4)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_hll_two_bounded_exchanges(spark):
    """The HLL sketch pays exactly two hash exchanges — (group, bucket)
    registers then per-group fold — and the register exchange carries at
    most 2^p rows per group no matter the input size (partial max runs
    map-side)."""
    from tundradb_spark.pipeline.sketches import hll_distinct

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = hll_distinct(docs, "doc_id", "source", p=9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # partial aggregation (the sketch merge) before each exchange
    assert "partial_max" in plan or "partial_" in plan, plan
    assert "SinglePartition" not in plan


def test_cm_build_single_exchange_partial_count(spark):
    from tundradb_spark.pipeline.sketches import cm_build

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = (
        cm_build(orders, "o_custkey", d=4, w=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan


def test_histogram_quantiles_one_data_exchange(spark):
    """The only data-sized shuffle is groupBy(group, bin); the window +
    final fold run over n_bins-bounded rows."""
    from tundradb_spark.operators.relational import histogram_quantiles

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = (
        histogram_quantiles(li, ["l_returnflag"], "l_extendedprice", [0.5])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # bin-count exchange + per-group window/fold exchange, nothing else,
    # and never a single-partition collapse
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "SinglePartition" not in plan
    assert "partial_count" in plan, plan


def test_shuffle_shards_is_narrow(spark):
    """Shard assignment adds NO exchange — it's a projection; the shuffle
    happens only when a writer repartitions by the assigned column."""
    from tundradb_spark.pipeline.sampling import shuffle_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        shuffle_shards(docs, 16)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_time_rollup_single_exchange_partial_agg(spark):
    """The hypertable rollup is ONE map-side-combined groupBy on
    (keys, bucket) — no window machinery, no extra exchange."""
    from tundradb_spark.operators.relational import time_bucket_rollup

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = (
        time_bucket_rollup(ev, 3_600_000_000, ["event_type"], "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan, plan
    assert "Window" not in plan


def test_cap_per_key_single_shuffle(spark):
    # per-key quota: exactly one exchange (the key hash), no global sort
    from tundradb_spark.pipeline.sampling import cap_per_key

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = cap_per_key(docs, ["source"], 3, order_by=[])
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    audit.assert_no_nested_loop(df)


def test_moving_aggregate_single_shuffle(spark):
    # trailing RANGE window: one key exchange; every aggregate shares the
    # same window frame (a second exchange would mean a frame split)
    from tundradb_spark.operators.relational import moving_aggregate

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = moving_aggregate(ev, 3_600_000_000, "user_id", "value")
    assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)
    audit.assert_no_nested_loop(df)


def test_index_sidecar_describes_probe_config(spark, tmp_path):
    # r6: every index writer persists its quantizer sidecar, so a reader
    # recovers the exact probe configuration (incl. trained centroids)
    # instead of trusting call-site defaults to match the write side
    from tundradb_spark.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id != 0")
    cents = similarity.ivf_train(emb, n_cells=4, iters=1, dim=64)
    path = str(tmp_path / "ivf_trained")
    similarity.index_corpus(emb, path, centroids=cents)
    meta = similarity.load_quantizer(path)
    assert meta["kind"] == "ivf" and meta["centroids"] == cents
    # probing with the sidecar's centroids == probing with the originals
    q = [1.0] + [0.0] * 63
    a = similarity.ivf_ann_topk_indexed(
        spark, path, q, 5, centroids=meta["centroids"]
    ).collect()
    b = similarity.ivf_ann_topk_indexed(
        spark, path, q, 5, centroids=cents
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # pre-r6 dirs without a sidecar read as None
    assert similarity.load_quantizer(str(tmp_path)) is None


def test_quantizer_sidecar_file_uri_lands_in_index_dir(tmp_path):
    # r7 (advice): 'file:' URIs are local to Spark's parquet writer, so
    # the sidecar must land in the SAME directory — the raw string handed
    # to os.makedirs would create a cwd-relative './file:/…' dir instead
    import os

    from tundradb_spark.pipeline import similarity

    d = str(tmp_path / "idx")
    for uri in (f"file:{d}", f"file://{d}"):
        similarity.save_quantizer(uri, {"kind": "lsh", "planes": 8})
        assert os.path.exists(os.path.join(d, "_quantizer.json"))
        assert similarity.load_quantizer(uri) == {"kind": "lsh", "planes": 8}
        assert not os.path.exists(f"./file:{d}")


def test_quantizer_sidecar_unreadable_raises(spark, tmp_path, monkeypatch):
    # a non-local sidecar that EXISTS but cannot be read raises instead of
    # passing for "no quantizer"; file:// URIs stand in for a remote
    # filesystem by routing them through the Hadoop branch
    from tundradb_spark.pipeline import similarity

    monkeypatch.setattr(similarity, "_local_path", lambda path: None)
    d = tmp_path / "idx"
    uri = f"file://{d}"
    assert similarity.load_quantizer(uri, spark) is None
    similarity.save_quantizer(uri, {"kind": "lsh", "planes": 8}, spark)
    assert similarity.load_quantizer(uri, spark) == {"kind": "lsh", "planes": 8}
    (d / "_quantizer" / "part-99999.txt.gz").write_bytes(b"not gzip data")
    with pytest.raises(Exception, match="(?i)gzip"):
        similarity.load_quantizer(uri, spark)


def test_cdc_chunks_no_shuffle(spark):
    # content-defined chunking must stay a narrow per-row plan: boundary
    # arrays via one filter(sequence(...)) lambda, the only row expansion
    # the final posexplode — zero exchanges at any scale
    from tundradb_spark.pipeline.sampling import cdc_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = cdc_chunks(docs)
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)
    audit.assert_no_nested_loop(df)


def test_temperature_mixture_broadcasts_the_plan(spark):
    # the domain plan (totals + keep fractions) is domain-sized and must
    # come back via broadcast — the corpus never shuffles; allowed
    # exchanges: the totals aggregate + the tiny global window
    from tundradb_spark.pipeline.sampling import temperature_mixture

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = temperature_mixture(docs, alpha=0.5, total_tokens=20_000)
    audit.assert_broadcast(df)
    audit.assert_no_nested_loop(df)
    assert audit.count_exchanges(df) <= 3, audit.formatted_plan(df)


def test_semantic_dedup_joins_on_the_cell(spark):
    # the SemDeDup self-join must key on the cell (hash or broadcast
    # equi-join) — never a nested-loop over all pairs
    from tundradb_spark.pipeline.dedup import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = semantic_dedup(emb, threshold=0.3, dim=64)
    audit.assert_no_nested_loop(df)


def test_fuzzy_pairs_no_nested_loop(spark):
    # r8 (advice): the short pool used to join on |a.n - b.n| <= d alone,
    # which compiles to a broadcast nested-loop over the ENTIRE corpus —
    # O(|shorts| x corpus) on short-string-heavy data.  The length band
    # is now an exploded equi key, so every join in the plan must be a
    # hash or sort-merge join.
    from tundradb_spark.pipeline.dedup import fuzzy_string_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id as id", "substring(text, 1, 12) as s"
    )
    df = fuzzy_string_pairs(docs, "s", id_col="id", max_dist=2, q=2)
    audit.assert_no_nested_loop(df)


def test_funnel_linear_exchanges(spark):
    """r9 (r8 verdict item 4): a k-step funnel's plan must grow O(k), not
    O(k^2) — the r8 shape unioned one count branch per step, re-deriving
    frontiers 1..i for step i, and ReuseExchange does NOT collapse those
    branches (column pruning makes them non-canonical-equal).  The
    rewritten single-lineage chain pays one exchange per step (the new
    step's type-filtered scan; the running frame reuses its hash(u)
    partitioning) plus the final single-row totals aggregate."""
    from tundradb_spark.operators.analytics import funnel

    ev = spark.read.parquet(f"{SF}/events.parquet")
    steps5 = ["view", "click", "add_to_cart", "purchase", "refund"]
    n3 = audit.count_exchanges(funnel(ev, steps5[:3]))
    n5 = audit.count_exchanges(funnel(ev, steps5))
    # linear: two extra steps cost a bounded constant number of exchanges
    # each; the quadratic union shape added ~2i exchanges at step i
    assert n5 - n3 <= 2 * 2 + 1, (n3, n5)
    assert n5 <= 2 * len(steps5) + 2, n5
    audit.assert_no_nested_loop(funnel(ev, steps5))


def test_substr_spans_single_digest_pipeline(spark):
    """r9 (r8 verdict item 3): q_substr_spans' spans + strip branches must
    share ONE exact_substring_spans computation.  ReuseExchange measured
    0/8 exchanges reused on the shared-frame version (pruned aggregates
    diverge), so the span frame is lazily localCheckpoint'd: the final
    plan shows both branches scanning the SAME checkpointed RDD and the
    k-gram digest pipeline (md5 over token windows) appears in neither —
    it ran exactly once inside the checkpoint job."""
    q = _q("q_substr_spans")
    df = q(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ExistingRDD") == 2, plan
    # only the strip branch's re-tokenization scan reads the corpus
    assert plan.count("Scan parquet") == 1, plan
    assert "slice" not in plan, plan  # the k-gram window digest pass


def test_robust_outliers_plan_shape(spark):
    """r10: robust_outliers must stay sort-window + broadcast — two
    window sorts over the (group, value, id) projection for the exact
    medians, with the group-sized median/MAD/domain frames broadcast
    back onto the events scan (never a shuffled join of the full rows),
    and no nested loop anywhere."""
    from tundradb_spark.operators.analytics import robust_outliers

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = robust_outliers(ev, k=3.0)
    audit.assert_no_nested_loop(df)
    # med + mad + ndom joins are all broadcast (group-universe-sized)
    audit.assert_broadcast(df, at_least=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly the value and dev sorts — a third sort would mean the
    # final scoring pass re-sorted the corpus
    assert plan.count("Sort ") <= 4, plan  # 2 logical sorts, AQE may split


def test_event_cooccurrence_plan_shape(spark):
    """r10: event_cooccurrence's per-type counts and the total-user row
    must broadcast onto the pair aggregate (type-universe-sized frames),
    and the only corpus-sized work is the (user, type) distinct + the
    per-user self-join — no nested loop (the 1-row total crossJoin is
    exempted by the auditor)."""
    from tundradb_spark.operators.analytics import event_cooccurrence

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = event_cooccurrence(ev, min_users=2, top_n=50)
    audit.assert_broadcast(df, at_least=2)
    # top_n compiles to TakeOrderedAndProject, not a global sort
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_recall_gauge_sampled_no_nested_loop_and_coin_pushed(spark):
    # r11: the sampled gauge must keep the full gauge's join discipline
    # (digest self-join + banded LSH join + full-outer gauge join — all
    # equi-keyed, never a nested loop), and the hash-coin filter must
    # reach the parquet scan as a data filter (the sample prunes ROWS
    # BEFORE the shuffles, which is the entire point of the mode)
    from tundradb_spark.pipeline.dedup import recall_gauge

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    df = recall_gauge(
        docs, num_hashes=12, bands=4, shingle_k=5, sample_fraction=0.5
    )
    audit.assert_no_nested_loop(df)
    # the coin is md5-based so it cannot be a parquet PushedFilter, but
    # in the OPTIMIZED plan it must sit as the Filter DIRECTLY over
    # every corpus Relation — rows are pruned before any shuffle.  Pin
    # the adjacency itself (r11 review: a bare "md5 in plan" was
    # vacuous — the gauge's digest mine and MinHash are md5-based too,
    # so the string survives even with the coin deleted).
    opt = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    rel_idx = [
        i for i, l in enumerate(opt)
        if "Relation" in l and "parquet" in l
    ]
    assert rel_idx, "no parquet relations in the optimized plan?"
    for i in rel_idx:
        prev = opt[i - 1]
        assert "Filter" in prev and "md5" in prev and "1000000" in prev, (
            f"corpus scan at optimized-plan line {i} is not guarded by "
            f"the hash-coin filter; line above: {prev[:120]}"
        )


def test_distribution_drift_scans_once_per_side(spark):
    """r12: each snapshot collapses to ONE map-side-combined
    groupBy(group, bin) and ONE bins-sized map gather — each side's
    lineage referenced exactly once, so the corpus is scanned ONCE per
    side (the r11 shape referenced each side twice and Spark recomputed
    the corpus aggregation per reference: 6 scans with the full-outer
    presence fix); totals, presence, gate, and metrics all derive from
    the single groups-sized joined row."""
    import re

    from tundradb_spark.operators.analytics import distribution_drift

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = distribution_drift(
        ev.filter("event_id % 3 < 2"),
        ev.filter("event_id % 3 = 2"),
        bounds=(0.0, 500.0),
        n_bins=20,
        min_n=50,
    )
    audit.assert_no_nested_loop(df)
    plan = audit.formatted_plan(df)
    # 6 exchanges total: per side, 1 corpus-sized (group, bin) agg +
    # 1 bins-sized map gather; the null-safe presence join adds 2 more
    # but on GROUPS-sized frames (post-aggregation) — the corpus is
    # never reshuffled beyond its one (group, bin) exchange per side
    assert audit.count_exchanges(df) <= 6, plan
    # ONE parquet scan per side ("Scan parquet" appears once in the
    # tree and once as its detail-section header → 2 matches per scan)
    assert len(re.findall(r"Scan parquet", plan)) <= 4, plan


def test_corpus_diff_single_id_join(spark):
    """r11: the diff is ONE hash join on the id — digests computed in
    the scan projection, never a nested loop, never a second join."""
    from tundradb_spark.pipeline.dedup import corpus_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = corpus_diff(
        docs.filter("doc_id % 11 != 0"), docs.filter("doc_id % 13 != 0")
    )
    audit.assert_no_nested_loop(df)
    plan = audit.simple_plan(df)  # tree only: each node counted once
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1, plan


def test_token_drift_one_count_per_side(spark):
    """r11: each snapshot collapses to ONE map-side-combined token
    count (plus its single-row total); the token join and term sums are
    vocabulary-sized, the totals come back via broadcast crossJoin —
    never a corpus-sized shuffle beyond the two counts."""
    from tundradb_spark.pipeline.text import token_drift

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = token_drift(docs.filter("doc_id % 2 = 0"),
                     docs.filter("doc_id % 2 = 1"))
    audit.assert_no_nested_loop(df)
    plan = audit.formatted_plan(df)
    # 2 corpus-sized count shuffles + vocabulary-sized join/aggregate
    # exchanges; the single-row totals must be BroadcastNestedLoop-free
    # (crossJoin of 1-row frames broadcasts)
    assert audit.count_exchanges(df) <= 9, plan


def test_key_skew_one_aggregate(spark):
    """r11: the skew report's only data-sized work is ONE
    map-side-combined groupBy(key).  r13: the top-N comes from a
    DISTRIBUTED TakeOrdered (never a key-universe single-partition
    window sort), totals attach via a 1-row broadcast cross join (the
    one benign nested loop), and runtime exchange reuse dedupes the
    totals branch's recomputation of the counts."""
    from tundradb_spark.operators.relational import key_skew

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = key_skew(li, "l_suppkey", top_n=10)
    plan = audit.formatted_plan(df)
    tree = audit.simple_plan(df)
    assert "partial" in plan.lower(), plan  # map-side combine
    assert "TakeOrderedAndProject" in tree, tree  # distributed top-N
    # the only nested loop is the 1-row totals attach
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree
    assert audit.count_exchanges(df) <= 3, plan
    # the scan is computed once: the totals branch reuses the counts
    # exchange at runtime
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:4000]


def test_join_fanout_never_runs_the_join(spark):
    """r11: the cardinality check must never join the data-sized tables
    row-to-row.  r15: it no longer joins ANYTHING key-sized either —
    both key scans union into one tagged stream, ONE map-side-combined
    groupBy counts each side, and "matched" is a filter, so the plan
    has ZERO equi-joins (was: two count groupBys + a key-universe
    join).  r13: the top-N is a DISTRIBUTED TakeOrdered (never a
    matched-key-universe single-partition window sort); the totals
    branch's second reference to the counts aggregate appears in the
    static tree but its exchange is REUSED at runtime, so each table
    is still scanned once."""
    from tundradb_spark.operators.relational import join_fanout

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet")
    df = join_fanout(li, od, "l_orderkey", "o_orderkey", top_n=10)
    plan = audit.formatted_plan(df)
    assert "partial" in plan.lower(), plan
    tree = audit.simple_plan(df)  # each node once per static branch
    n_joins = sum(
        tree.count(s)
        for s in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # no equi-join anywhere: the matched-key filter replaced the
    # key-universe join of the two count frames
    assert n_joins == 0, tree
    assert "TakeOrderedAndProject" in tree, tree
    # the only nested loop is the 1-row totals attach
    assert tree.count("BroadcastNestedLoopJoin") == 1, tree
    assert audit.count_exchanges(df) <= 3, plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:4000]


def test_value_trend_one_aggregate(spark):
    """r11: the trend fit's only data-sized work is ONE
    map-side-combined groupBy(group) emitting 7 additive cells; the
    closed form is per-group constant arithmetic."""
    from tundradb_spark.operators.analytics import value_trend

    ev = spark.read.parquet(f"{SF}/events.parquet")
    df = value_trend(ev, epoch_us=1_704_067_200_000_000, min_n=10)
    audit.assert_no_nested_loop(df)
    plan = audit.formatted_plan(df)
    assert "partial" in plan.lower(), plan
    assert audit.count_exchanges(df) <= 1, plan


def test_salted_join_adds_no_exchanges_over_plain_join(spark):
    """r12: salting must not add shuffles — the scatter hash and the
    replicate-explode are narrow projections feeding the SAME
    exchange count as the plain join (just on (key, salt) instead of
    key), or the mitigation would cost what it saves."""
    from tundradb_spark.operators.relational import salted_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    od = spark.read.parquet(f"{SF}/orders.parquet")
    plain = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    salted = salted_join(
        li, od, "l_orderkey", "o_orderkey",
        hot_keys=["1", "2", "3"], salt=8,
    )
    audit.assert_no_nested_loop(salted)
    assert audit.count_exchanges(salted) <= max(
        audit.count_exchanges(plain), 2
    )
