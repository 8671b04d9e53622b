"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force exact cosine top-k: one narrow
  projection + a ``TakeOrderedAndProject`` (no full sort, no shuffle of the
  data — only k rows per partition reach the driver-side merge).
- :func:`lsh_ann_topk` — the scale path: sign-LSH random-hyperplane
  signatures bucket the corpus; the query probes only its own buckets, so
  the exact cosine runs on a small candidate set.  Hyperplanes are
  deterministic literals (seeded), so results are reproducible anywhere.

- :func:`index_corpus` / :func:`ivf_ann_topk_indexed` — the 100 TB storage
  half: the corpus persisted ``partitionBy('cell')`` so a probe's literal
  ``cell IN (...)`` predicate prunes FILES (PartitionFilters — plan-test
  pinned), not just rows; signatures are computed once at write time.

Everything is built-in-function only (codegen; no UDFs); the dot product is
a left-fold so any engine reproduces the exact IEEE-754 doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tundradb_spark.pipeline.hashing import (
    arr_sql,
    dot_sql,
    dots_sql,
    hyperplanes,
    lsh_bands,
)


def _vec_sql(vec_col: str) -> str:
    """SQL expression casting an array column to double elements."""
    return f"transform(`{vec_col}`, x -> cast(x as double))"


def _norm_lit(q: list[float]) -> float:
    return sum(c * c for c in q) ** 0.5


def cosine_scores(
    emb: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine of every vector against a literal query vector."""
    v = _vec_sql(vec_col)
    cos = (
        f"{dot_sql(v, arr_sql(query))}"
        f" / (sqrt({dot_sql(v, v)}) * {repr(_norm_lit(query))}D)"
    )
    return emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.round(F.expr(cos), 6).alias("cosine"),
    )


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force exact top-k by cosine (desc), id asc as tie-break.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: each partition
    keeps its local top-k, only n_partitions*k rows are merged — no global
    sort even at 100 TB.
    """
    return cosine_scores(emb, query, vec_col, id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    ).limit(k)


def lsh_signature(
    emb: DataFrame,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH signature: bit p = 1 iff dot(v, plane_p) > 0, planes a
    deterministic seeded ±1 matrix."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(n_planes, dim, seed)
    # one F.expr for the whole signature — see dot_sql for why
    v = _vec_sql(vec_col)
    sig = " + ".join(
        f"(CASE WHEN {dot_sql(v, arr_sql(plane))} > 0"
        f" THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p, plane in enumerate(planes)
    )
    return emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col),
        F.expr(sig).alias("sig"),
    )


def hamming_ball(key: int, bits: int, radius: int) -> list[int]:
    """Every ``bits``-wide key within Hamming distance ``radius`` of
    ``key``, ascending — the multi-probe key set.  Ball size is
    ``sum_{i<=radius} C(bits, i)`` (37 for 8 bits / radius 2), tiny
    driver-side arithmetic."""
    from itertools import combinations

    out = {key}
    for r in range(1, radius + 1):
        for flips in combinations(range(bits), r):
            x = key
            for b in flips:
                x ^= 1 << b
            out.add(x)
    return sorted(out)


def lsh_ann_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: probe only vectors whose signature has ≥1 band
    within Hamming distance ``probe_hamming`` of the query's band, then
    exact cosine on the candidates.

    **Multi-probe** (``probe_hamming``, default 2): a near neighbor at
    modest cosine flips a few signature bits with high probability, so
    demanding an EXACT band match collapses recall (measured 0.0 at the
    old 2×8-bit defaults on near-random synthetic embeddings, the
    adversarial case for sign-LSH); accepting bands at small Hamming
    distance recovers it (measured 0.6 at radius 2, same data) while the
    candidate set stays a bit_count predicate on one BIGINT — no extra
    hashing, no extra planes.  ``probe_hamming=0`` is the classic exact
    band match.

    The candidate filter is a literal predicate on the signature (the
    query's band keys are computed driver-side), so Catalyst evaluates it
    inside the scan's codegen stage; with the :func:`index_corpus_lsh`
    layout the same probe becomes file-level pruning.
    """
    dim = len(query)
    planes = hyperplanes(n_planes, dim, seed)
    qsig = 0
    for p, plane in enumerate(planes):
        proj = sum(a * b for a, b in zip(query, plane))
        if proj > 0:
            qsig |= 1 << p
    bands = lsh_bands(n_planes, band_bits)
    mask = (1 << band_bits) - 1
    sigs = lsh_signature(emb, n_planes, vec_col, id_col, seed, dim=dim)
    cand_pred = None
    for i in range(bands):
        qband = (qsig >> (i * band_bits)) & mask
        if probe_hamming > 0:
            pred = F.expr(
                f"bit_count((shiftright(sig, {i * band_bits}) & {mask})"
                f" ^ {qband}) <= {probe_hamming}"
            )
        else:
            pred = (
                F.shiftright("sig", i * band_bits).bitwiseAND(F.lit(mask))
                == F.lit(qband)
            )
        cand_pred = pred if cand_pred is None else (cand_pred | pred)
    return cosine_topk(
        sigs.filter(cand_pred), query, k, vec_col=vec_col, id_col=id_col
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def ivf_centroids(n_cells: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic seeded ±1 coarse-quantizer directions.

    A production deployment would Lloyd-train these on a corpus sample and
    persist them; fixed random directions keep every engine (Spark, the SQL
    oracle, a future reader) bit-reproducible with zero training state.  All
    centroids share the same norm (√dim), so nearest-by-cosine equals
    argmax-by-dot — the assignment below never needs the norms.
    """
    return hyperplanes(n_cells, dim, seed)


def _unit(c: list[float]) -> list[float]:
    n = _norm_lit(c)
    return [x / n for x in c] if n else c


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    vectorized: bool = False,
) -> DataFrame:
    """Attach each vector's IVF cell: ``cell = argmax_c dot(v, centroid_c)``
    (1-based, first-max tie-break — ``array_position(dots, array_max)``).

    The per-row work is one pass over ``n_cells`` fold-left dots.  At
    100 TB the assignment is the WRITE-side step: persist the corpus
    partitioned/bucketed by ``cell`` (``.write.partitionBy('cell')``) and a
    probe's ``cell IN (...)`` predicate prunes files — the inverted-file
    effect; no scan of non-probed cells at all.

    ``centroids``: explicit coarse quantizer (e.g. from :func:`ivf_train`);
    normalized to unit length here so argmax-by-dot equals
    nearest-by-cosine even for unequal-norm trained centroids.  Default:
    the seeded ±1 directions (already equal-norm — left untouched so the
    SQL oracle literals stay bit-identical).
    """
    if centroids is not None:
        cents = [_unit(c) for c in centroids]
    else:
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        cents = ivf_centroids(n_cells, dim, seed)
    if vectorized:
        # Arrow-batched GEMM assignment (V @ Cᵀ, one numpy matmul per
        # batch) — the scale path for auto-sized quantizers where
        # n_cells grows with the corpus and the per-row HOF fold pays
        # n_cells × dim boxed ops (r8: 160-cell assignment measured
        # ~13 s for 20k rows on the fold path, <1 s here).  np.argmax
        # keeps the fold path's first-max tie-break; last-ulp dot
        # differences CAN flip a knife-edge argmax, so oracle-pinned
        # queries stay on the default fold path.
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64).T  # dim × n_cells
        vec_type = emb.schema[vec_col].dataType.simpleString()

        def _assign(batches):
            for pdf in batches:
                V = np.stack(
                    [np.asarray(a, dtype=np.float64) for a in pdf[vec_col]]
                )
                cell = (V @ C).argmax(axis=1) + 1
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].astype("int64"),
                        vec_col: pdf[vec_col],
                        "cell": cell.astype("int32"),
                    }
                )

        return emb.select(
            F.col(id_col).cast("long").alias(id_col), vec_col
        ).mapInPandas(
            _assign, f"{id_col} long, {vec_col} {vec_type}, cell int"
        )
    # __v projected FIRST so the double-cast of the vector happens once
    # per row, not once per centroid inside the dots HOF (r8: measured
    # ~5× on 160-cell auto assignments); __dots in its own projection so
    # the argmax's two references don't each re-inline the dot folds
    dots = dots_sql("`__v`", cents)
    return emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col),
        F.expr(_vec_sql(vec_col)).alias("__v"),
    ).select(
        id_col,
        vec_col,
        F.expr(dots).alias("__dots"),
    ).select(
        id_col,
        vec_col,
        F.expr(
            "cast(array_position(__dots, array_max(__dots)) as int)"
        ).alias("cell"),
    )


def probe_cells(
    query: list[float],
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> list[int]:
    """The query's top-``n_probe`` IVF cells, ranked by centroid dot
    (desc, cell asc tie-break — mirrors the oracle).  Pure driver-side
    arithmetic on the literal centroids; the result is the literal
    ``cell IN (...)`` predicate both the compute path and the indexed path
    push to their scans."""
    if centroids is not None:
        cents = [_unit(c) for c in centroids]
        n_cells = len(cents)
    else:
        cents = ivf_centroids(n_cells, len(query), seed)
    qdots = [sum(a * b for a, b in zip(query, c)) for c in cents]
    return [
        i + 1  # 1-based cells
        for i, _ in sorted(enumerate(qdots), key=lambda t: (-t[1], t[0]))[:n_probe]
    ]


def ivf_ann_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: rank cells by the QUERY's centroid dots
    (driver-side — the centroids are literals), scan only the top
    ``n_probe`` cells, exact-cosine re-rank the candidates.

    ``n_probe = n_cells`` degrades gracefully to exact :func:`cosine_topk`
    (every cell probed — pinned by test); small ``n_probe`` trades recall
    for scanning ``~n_probe/n_cells`` of the corpus.  This path re-derives
    cell assignments per query; :func:`ivf_ann_topk_indexed` over an
    :func:`index_corpus` layout skips the re-hash AND prunes that fraction
    of the FILES.

    ``centroids``: a trained quantizer from :func:`ivf_train` (normalized
    here); default is the seeded oracle-reproducible quantizer.
    """
    if centroids is not None:
        n_cells = len(centroids)
    probe = probe_cells(query, n_cells, n_probe, seed, centroids)
    cands = ivf_assign(
        emb, n_cells, vec_col, id_col, seed, dim=len(query), centroids=centroids
    ).filter(F.col("cell").isin(probe))
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


def index_corpus(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    mode: str = "overwrite",
) -> str:
    """Persist the corpus **cell-partitioned** — the write-side half of the
    100 TB IVF story.

    ``.write.partitionBy('cell')`` lays the corpus out as one directory per
    IVF cell, so a probe's ``cell IN (...)`` predicate becomes a
    **PartitionFilter** on the parquet scan: non-probed cells are pruned at
    FILE level and are never opened, read, or decoded
    (tests/test_plans.py pins this).  Signatures are computed exactly once,
    at write time; every subsequent probe is pure pruned IO + re-rank.

    At 100 TB, pair this with a per-cell file-size target (the writer
    shuffles by ``cell`` first so each cell directory gets coalesced files,
    not one sliver per input task).
    """
    if centroids is not None:
        n_cells = len(centroids)
    assigned = ivf_assign(
        emb, n_cells, vec_col, id_col, seed, dim=dim, centroids=centroids
    )
    # one shuffle by cell at write time → each cell directory is a few dense
    # files instead of n_input_tasks slivers; this is the write-amortized
    # cost every probe stops paying
    assigned.repartition("cell").write.mode(mode).partitionBy("cell").parquet(
        path
    )
    save_quantizer(path, {
        "kind": "ivf", "n_cells": n_cells, "seed": seed,
        "centroids": centroids,  # None = seeded defaults
    }, spark=emb.sparkSession)
    return path


def ivf_ann_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Probe an :func:`index_corpus` layout: read ONLY the probed cells'
    files (partition pruning — no signature recompute, no full-corpus scan),
    then exact-cosine re-rank.

    Must be called with the same quantizer (``n_cells``/``seed`` or
    ``centroids``) the index was written with; results are identical to
    :func:`ivf_ann_topk` on the same corpus (test-pinned), the plan reads
    ``~n_probe/n_cells`` of the files.
    """
    probe = probe_cells(query, n_cells, n_probe, seed, centroids)
    cands = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


def index_corpus_lsh(
    emb: DataFrame,
    path: str,
    n_planes: int = 16,
    band_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    mode: str = "overwrite",
    layout: str = "sorted",
) -> str:
    """Persist the corpus as a banded sign-LSH **inverted file**: one row
    per (vector, band).  Storage pays ×``bands`` duplication — the
    standard inverted-index trade; signatures are computed exactly once,
    at write time.  Two physical layouts, one logical probe
    (:func:`lsh_ann_topk_indexed` works on either; the quantizer sidecar
    records which was written):

    ``layout='sorted'`` (default, r7): ``partitionBy(band_idx)`` only —
    ``bands`` directories total — with each band's postings RANGE-
    partitioned and sorted by ``band_key``, which stays a data column:
    every output file covers a disjoint contiguous ``band_key`` range,
    so the probe's ``band_key IN (...)`` predicate prunes whole FILES
    via parquet footer min/max (and row groups within them) instead of
    directory entries.  Write parallelism is the range partitioner's
    (AQE-coalesced on small corpora, cluster-wide on big ones — never
    the one-task-per-band funnel a plain ``repartition(band_idx)``
    would force at 100 TB).  This exists because the r6 measurement was
    honest about the dir-per-key layout: at sf0.1 the Hamming-2 probe
    opened ~74 tiny directories and file-open cost made the "index"
    3.7× SLOWER than recomputing signatures; opening a handful of dense
    range-sorted files makes the crossover real at demo scale AND keeps
    object-store listings O(bands) at 100 TB.

    ``layout='dirs'`` (pre-r7): ``partitionBy(band_idx, band_key)`` —
    one directory per posting key, PartitionFilters prune whole
    directories.  Right when postings-per-key is large enough that a
    directory outweighs its open cost (very large corpora with narrow
    probes); the physical delete-non-probed-dirs proof in
    tests/test_plans.py runs against this layout.
    """
    if layout not in ("sorted", "dirs"):
        raise ValueError(f"unknown LSH index layout {layout!r}")
    bands = lsh_bands(n_planes, band_bits)
    mask = (1 << band_bits) - 1
    sigs = lsh_signature(emb, n_planes, vec_col, id_col, seed)
    exploded = sigs.select(
        id_col,
        vec_col,
        F.explode(
            F.array(*[F.lit(i) for i in range(bands)])
        ).alias("band_idx"),
        F.col("sig"),
    ).select(
        id_col,
        vec_col,
        "band_idx",
        F.expr(f"shiftright(sig, band_idx * {band_bits}) & {mask}").alias(
            "band_key"
        ),
    )
    if layout == "dirs":
        # cluster by partition key at write time → dense per-directory files
        exploded.repartition("band_idx", "band_key").write.mode(
            mode
        ).partitionBy("band_idx", "band_key").parquet(path)
    else:
        # disjoint sorted band_key ranges per file → footer min/max
        # stats carry the pruning the directory tree used to.  Range
        # partitioning keeps write parallelism (a plain
        # repartition(band_idx) would funnel each band through ONE
        # task — an OOM/straggler at corpus scale).  band_idx leads the
        # sort so the partitioned write's required child ordering
        # (partition cols) is already satisfied — its own unstable
        # re-sort would otherwise scramble band_key again
        (
            exploded.repartitionByRange("band_idx", "band_key")
            .sortWithinPartitions("band_idx", "band_key")
            .write.mode(mode)
            .partitionBy("band_idx")
            .parquet(path)
        )
    save_quantizer(path, {
        "kind": "lsh", "n_planes": n_planes,
        "band_bits": band_bits, "seed": seed, "layout": layout,
    }, spark=emb.sparkSession)
    return path


def lsh_ann_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    probe_hamming: int = 2,
) -> DataFrame:
    """Probe an :func:`index_corpus_lsh` layout: read only the directories
    whose (band_idx, band_key) is within Hamming distance ``probe_hamming``
    of the query's bands (the :func:`hamming_ball` key set, enumerated
    driver-side so the predicate stays a literal ``band_key IN (...)`` —
    PartitionFilters still prune FILES), dedupe candidates (a vector
    agreeing on several bands posts several times), exact-cosine re-rank.
    Identical results to :func:`lsh_ann_topk` with the same parameters on
    the same corpus (test-pinned); at radius 2 the scan opens
    ``~bands × 37 / 2^band_bits`` of the directories.

    Must use the same ``n_planes``/``band_bits``/``seed`` the index was
    written with.
    """
    planes = hyperplanes(n_planes, len(query), seed)
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query, plane)) > 0:
            qsig |= 1 << p
    bands = lsh_bands(n_planes, band_bits)
    mask = (1 << band_bits) - 1
    pred = None
    for i in range(bands):
        qband = (qsig >> (i * band_bits)) & mask
        keys = hamming_ball(qband, band_bits, probe_hamming)
        this = (F.col("band_idx") == i) & F.col("band_key").isin(keys)
        pred = this if pred is None else (pred | this)
    cands = (
        spark.read.parquet(path)
        .filter(pred)
        .dropDuplicates([id_col])
    )
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-code ANN
# ---------------------------------------------------------------------------


def pq_codebooks(
    m: int, n_codes: int, sub_dim: int, seed: int = 13
) -> list[list[list[float]]]:
    """``m`` deterministic seeded ±1 codebooks of ``n_codes`` codewords
    each (one per subspace).  Production PQ k-means-trains these per
    subspace (:func:`pq_train`); fixed seeded directions keep the whole
    pipeline (encode, ADC lookup, the SQL oracle) bit-reproducible with
    zero training state — the same trade :func:`ivf_centroids` makes."""
    return [hyperplanes(n_codes, sub_dim, seed + 31 * j) for j in range(m)]


def pq_train(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    seed: int = 13,
    dim: int | None = None,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd training for the PQ codebooks — the
    :func:`ivf_train` recipe applied to each of the ``m`` sub-vectors.

    Fully deterministic: seeded ±1 init, assignment via the same
    argmax-dot expression :func:`pq_encode` compiles, new codeword =
    per-dimension mean of the assigned slices, normalized to UNIT length
    (argmax-dot then remains nearest-by-angle for unequal-norm trained
    words — the :func:`ivf_assign` convention).  Empty codes keep their
    previous word.

    Scale: each iteration is one narrow encode pass + ONE
    ``(subspace, code, sub-dim)``-keyed aggregation whose result is
    ``m × n_codes × sub_dim`` rows (1,024 floats at the defaults) — train
    on a ``sample_fraction`` at corpus scale, persist the books with the
    index, pass to :func:`pq_encode` / :func:`pq_ann_topk` via
    ``codebooks=``.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    if sample_fraction is not None:
        emb = emb.sample(fraction=sample_fraction, seed=seed)
    cur = pq_codebooks(m, n_codes, sub, seed)
    v = _vec_sql(vec_col)
    for _ in range(max(0, iters)):
        use = [[_unit(cw) for cw in cur[j]] for j in range(m)]
        sliced = emb.select(
            *[
                F.expr(f"slice({v}, {j * sub + 1}, {sub})").alias(f"__s{j}")
                for j in range(m)
            ]
        )
        dot_arrays = [
            "array("
            + ", ".join(dot_sql(f"__s{j}", arr_sql(cw)) for cw in use[j])
            + ")"
            for j in range(m)
        ]
        staged = sliced.select(
            *[F.col(f"__s{j}") for j in range(m)],
            *[F.expr(d).alias(f"__d{j}") for j, d in enumerate(dot_arrays)],
        )
        # one narrow frame: (subspace, assigned code, sub-dim pos, value)
        exploded = staged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.expr(
                                f"cast(array_position(__d{j},"
                                f" array_max(__d{j})) as int)"
                            ).alias("code"),
                            F.col(f"__s{j}").alias("s"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("a")
        ).select(
            F.col("a.j"),
            F.col("a.code"),
            F.posexplode(F.expr("transform(a.s, x -> cast(x as double))")).alias(
                "pos", "x"
            ),
        )
        # decimal-sum / count, ONE double division: partition-order-free
        # (a raw F.avg over doubles is not — trained codebooks persisted
        # via the quantizer sidecar must be bit-identical across cluster
        # layouts for the 'fully deterministic' contract to hold)
        means = (
            exploded.groupBy("j", "code", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(30,10)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("mval")
            )
            .collect()
        )  # bounded: m * n_codes * sub rows
        fresh: dict[tuple[int, int], list[float]] = {}
        for r in means:
            fresh.setdefault(
                (int(r["j"]), int(r["code"])), [0.0] * sub
            )[int(r["pos"])] = float(r["mval"])
        cur = [
            [
                fresh.get((j, c + 1), cur[j][c])
                for c in range(n_codes)
            ]
            for j in range(m)
        ]
    return [[_unit(cw) for cw in book] for book in cur]


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    dim: int | None = None,
    keep_vec: bool = True,
    keep_cols: list[str] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantize each vector: split into ``m`` subspaces, assign
    each slice to its nearest (max-dot) codeword — output ``pq_code``, an
    ``array<int>`` of length m (1-based codes, first-max tie-break).
    ``keep_cols`` carries extra columns (e.g. an IVF cell) through the
    staged projections, so composed indexes never join back to the source.

    The compression story at 100 TB: an m=8, k=16 code is 8 small ints per
    vector vs 64 float64s — the coarse-scoring pass reads ~64× fewer bytes
    than raw embeddings.  Per-subspace dot arrays are materialized in their
    own projection (``__d{j}``) so the argmax's two references don't
    re-inline the fold expressions (the module-wide anti-inlining
    discipline).
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = codebooks if codebooks is not None else pq_codebooks(
        m, n_codes, sub, seed
    )
    v = _vec_sql(vec_col)
    # stage 1: materialize each subspace slice ONCE (each is referenced by
    # n_codes dot folds — inlined, every dot would re-slice and re-cast)
    carry = list(keep_cols or [])
    sliced = emb.select(
        F.col(id_col).cast("long").alias(id_col),
        *([F.col(vec_col)] if keep_vec else []),
        *[F.col(c) for c in carry],
        *[
            F.expr(f"slice({v}, {j * sub + 1}, {sub})").alias(f"__s{j}")
            for j in range(m)
        ],
    )
    dot_arrays = [
        "array("
        + ", ".join(dot_sql(f"__s{j}", arr_sql(cw)) for cw in books[j])
        + ")"
        for j in range(m)
    ]
    staged = sliced.select(
        id_col,
        *([vec_col] if keep_vec else []),
        *carry,
        *[F.expr(d).alias(f"__d{j}") for j, d in enumerate(dot_arrays)],
    )
    code = "array(" + ", ".join(
        f"cast(array_position(__d{j}, array_max(__d{j})) as int)"
        for j in range(m)
    ) + ")"
    return staged.select(
        id_col,
        *([vec_col] if keep_vec else []),
        *carry,
        F.expr(code).alias("pq_code"),
    )


def pq_ann_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    refine: int = 200,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ approximate top-k with exact refinement — the classic two-stage
    compressed search:

    1. **ADC coarse pass**: the query's per-subspace dot with every
       codeword is a literal lookup table (computed driver-side);
       a vector's approximate score is ``sum_j lut[j][code_j]`` — pure
       array lookups over the 8-int codes, no embedding reads.  Top
       ``refine`` survive via TakeOrderedAndProject (no global sort).
    2. **Exact re-rank**: true cosine on the ``refine`` survivors only.

    At 100 TB stage 1 scans codes (~64× smaller than raw vectors — with a
    code-only column/index file, that is the entire IO) and stage 2 touches
    ``refine`` rows.  Deterministic end-to-end: seeded codebooks, literal
    LUTs, (adc desc, id) refine order — the SQL oracle reproduces every
    double exactly.
    """
    enc = pq_encode(
        emb, m, n_codes, vec_col, id_col, seed, dim=len(query),
        keep_vec=True, codebooks=codebooks,
    )
    adc = _pq_adc_expr(query, m, n_codes, seed, codebooks=codebooks)
    cands = (
        enc.select(id_col, vec_col, F.expr(adc).alias("__adc"))
        .orderBy(F.desc("__adc"), F.asc(id_col))
        .limit(refine)
    )
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


def _pq_adc_expr(
    query: list[float],
    m: int,
    n_codes: int,
    seed: int,
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    """ADC score expression: the query's per-subspace codeword dots become
    literal lookup tables, summed in subspace order over the code ints."""
    dim = len(query)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = codebooks if codebooks is not None else pq_codebooks(
        m, n_codes, sub, seed
    )
    luts = [
        [
            sum(a * b for a, b in zip(query[j * sub : (j + 1) * sub], cw))
            for cw in books[j]
        ]
        for j in range(m)
    ]
    return " + ".join(
        f"element_at({arr_sql(luts[j])}, element_at(pq_code, {j + 1}))"
        for j in range(m)
    )


def index_corpus_pq(
    emb: DataFrame,
    path: str,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    dim: int | None = None,
    mode: str = "overwrite",
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    """Persist the PQ-encoded corpus (id, vector, code): encoding — the
    expensive half of PQ search, ~n_codes×m short dot folds per row — runs
    ONCE at write time; every probe then reads precomputed codes.  At
    100 TB, put ``pq_code`` first in a column-pruned scan and the ADC pass
    reads ~m small ints per vector instead of the raw embedding."""
    pq_encode(
        emb, m, n_codes, vec_col, id_col, seed, dim=dim, keep_vec=True,
        codebooks=codebooks,
    ).write.mode(mode).parquet(path)
    save_quantizer(path, {
        "kind": "pq", "m": m, "n_codes": n_codes,
        "seed": seed, "codebooks": codebooks,
    }, spark=emb.sparkSession)
    return path


def pq_ann_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    refine: int = 200,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Probe an :func:`index_corpus_pq` layout: ADC over the PRE-COMPUTED
    codes (no encode work per query), refine, exact re-rank.  Identical
    results to :func:`pq_ann_topk` with the same parameters (test-pinned).
    """
    adc = _pq_adc_expr(query, m, n_codes, seed, codebooks=codebooks)
    cands = (
        spark.read.parquet(path)
        .select(id_col, vec_col, F.expr(adc).alias("__adc"))
        .orderBy(F.desc("__adc"), F.asc(id_col))
        .limit(refine)
    )
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


def index_corpus_ivfpq(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_seed: int = 11,
    pq_seed: int = 13,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    mode: str = "overwrite",
) -> str:
    """The composed IVF+PQ index — the standard billion-scale ANN layout:
    rows carry (id, vector, pq_code) and are ``partitionBy('cell')``.

    A probe then stacks every pruning stage this module provides:
    cell dirs are skipped at FILE level (PartitionFilters), the ADC coarse
    pass reads the precomputed 8-int codes, and only the refine survivors'
    raw vectors are touched.  All assignment/encode cost is write-side.
    """
    if centroids is not None:
        n_cells = len(centroids)
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    assigned = ivf_assign(
        emb, n_cells, vec_col, id_col, ivf_seed, dim=dim, centroids=centroids
    )
    encoded = pq_encode(
        assigned,
        m,
        n_codes,
        vec_col,
        id_col,
        pq_seed,
        dim=dim,
        keep_vec=True,
        keep_cols=["cell"],  # join-free: cell rides the staged projections
    )
    encoded.repartition("cell").write.mode(mode).partitionBy("cell").parquet(
        path
    )
    save_quantizer(path, {
        "kind": "ivfpq", "n_cells": n_cells, "m": m,
        "n_codes": n_codes, "ivf_seed": ivf_seed,
        "pq_seed": pq_seed, "centroids": centroids,
    }, spark=emb.sparkSession)
    return path


def ivfpq_ann_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    refine: int = 200,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_seed: int = 11,
    pq_seed: int = 13,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Probe an :func:`index_corpus_ivfpq` layout: prune to the query's
    ``n_probe`` cells (file-level), ADC-score their precomputed codes,
    refine the top candidates with exact cosine.  With
    ``n_probe=n_cells`` and ``refine >= corpus`` this provably degrades to
    exact :func:`cosine_topk` (test-pinned)."""
    probe = probe_cells(query, n_cells, n_probe, ivf_seed, centroids)
    adc = _pq_adc_expr(query, m, n_codes, pq_seed)
    cands = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe))
        .select(id_col, vec_col, F.expr(adc).alias("__adc"))
        .orderBy(F.desc("__adc"), F.asc(id_col))
        .limit(refine)
    )
    return cosine_topk(cands, query, k, vec_col=vec_col, id_col=id_col)


def ivf_train(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    seed: int = 11,
    dim: int | None = None,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Spherical-k-means training for the IVF coarse quantizer.

    Lloyd iterations, fully deterministic: seeded ±1 init, assignment via
    the same argmax-dot expression :func:`ivf_assign` uses (init centroids
    are equal-norm; subsequent rounds normalize), new centroid = per-dim
    mean of the cell's members.  Empty cells keep their previous centroid.

    Scale: each iteration is one narrow assignment pass + one
    (cell, dim)-keyed aggregation — the per-dim means come back as
    ``n_cells × dim`` rows (tiny).  Train on a SAMPLE at corpus scale
    (``sample_fraction`` — k-means needs thousands of points per cell, not
    the whole corpus; the standard IVF recipe).

    Returns plain Python lists — persist them with the index; pass to
    :func:`ivf_assign` / :func:`ivf_ann_topk` via ``centroids=``.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if sample_fraction is not None:
        emb = emb.sample(fraction=sample_fraction, seed=seed)
    cur = ivf_centroids(n_cells, dim, seed)
    for _ in range(max(0, iters)):
        use = [_unit(c) for c in cur]
        v = _vec_sql(vec_col)
        dots = dots_sql(v, use)
        assigned = emb.select(
            F.col(vec_col), F.expr(dots).alias("__dots")
        ).select(
            vec_col,
            F.expr(
                "cast(array_position(__dots, array_max(__dots)) as int)"
            ).alias("cell"),
        )
        # decimal-sum / count, ONE double division: partition-order-free
        # (same discipline as pq_train — persisted quantizer sidecars must
        # be bit-identical across cluster layouts)
        means = (
            assigned.select(
                "cell", F.posexplode(F.expr(_vec_sql(vec_col))).alias("pos", "x")
            )
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast("decimal(30,10)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        fresh: dict[int, list[float]] = {}
        for r in means:
            fresh.setdefault(int(r["cell"]), [0.0] * dim)[int(r["pos"])] = float(
                r["m"]
            )
        cur = [fresh.get(c + 1, cur[c]) for c in range(n_cells)]
    return cur


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 23,
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each vector
    onto ``out_dim`` deterministic ±1 directions, scaled by
    ``1/sqrt(out_dim)`` (the Achlioptas 2003 database-friendly projection)
    — the standard compression step before brute-force or LSH similarity
    at corpus scale (a 64→16 projection cuts ANN scan bytes 4×; pairwise
    distances are preserved within the JL distortion bound).

    Output: ``(id_col, projected array<double>)``.  One narrow codegen'd
    projection, zero shuffle; the ±1 matrix is embedded as literals so any
    engine (and the SQL oracle) reproduces every coordinate bit-for-bit.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(out_dim, dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    v = _vec_sql(vec_col)
    proj = (
        "array("
        + ", ".join(
            f"{dot_sql(v, arr_sql(p))} * {scale!r}D" for p in planes
        )
        + ")"
    )
    return emb.select(
        F.col(id_col).cast("long").alias(id_col),
        F.expr(proj).alias("projected"),
    )


def cluster_prune(
    emb: DataFrame,
    n_cells: int = 16,
    keep_per_cell: int = 8,
    keep: str = "central",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Prototype-based diversity pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): cluster the corpus with the IVF coarse
    quantizer, rank each vector by cosine to its cell centroid, and keep
    ``keep_per_cell`` per cell — ``keep='central'`` retains the most
    prototypical examples (rank by similarity desc), ``keep='diverse'``
    the hardest/outlier examples (asc), the two pruning policies the paper
    contrasts.

    Output: ``(vec_id, cell, score, rank)`` for kept vectors; ``score`` is
    the rounded cosine to the assigned centroid.  Plan: the narrow
    assignment projection, ONE hash shuffle on ``cell``, a bounded
    per-cell window (cells ≈ corpus/n_cells; size ``n_cells`` to the
    cluster's parallelism).  Ties rank deterministically (vec_id asc), so
    a SQL oracle reproduces the kept set exactly.
    """
    from pyspark.sql import Window

    if keep not in ("central", "diverse"):
        raise ValueError(f"keep must be 'central' or 'diverse', got {keep!r}")
    if keep_per_cell < 1:
        raise ValueError(f"keep_per_cell must be >= 1, got {keep_per_cell}")
    if centroids is None:
        if dim is None:
            dim = len(emb.select(vec_col).first()[0])
        centroids = ivf_centroids(n_cells, dim, seed)
    assigned = ivf_assign(
        emb, n_cells, vec_col, id_col, seed, dim, centroids=centroids
    )
    cents = [_unit(c) for c in centroids]
    v = _vec_sql(vec_col)
    # cosine to the ASSIGNED cell's (unit) centroid: one CASE over the
    # literal centroids — stays in codegen, no join
    cos_cases = " ".join(
        f"WHEN {i + 1} THEN {dot_sql(v, arr_sql(c))}" for i, c in enumerate(cents)
    )
    scored = assigned.select(
        id_col,
        "cell",
        F.expr(
            f"round((CASE cell {cos_cases} END) / "
            f"sqrt({dot_sql(v, v)}), 6)"
        ).alias("score"),
    )
    order = (
        [F.desc("score"), F.asc(id_col)]
        if keep == "central"
        else [F.asc("score"), F.asc(id_col)]
    )
    w = Window.partitionBy("cell").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= keep_per_cell)
    )


def ann_recall(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    k: int,
    id_col: str = "vec_id",
    method: str = "approx",
) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact top-k —
    the quality gauge every ANN deployment tracks next to its latency:
    ``recall = |approx ∩ exact| / k``.

    Declarative (no driver-side set math): one semi-join + a 1-row
    aggregate, so recall over many queries/methods unions into a single
    plan.  Returns ``(method, k, n_hits, recall)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hits = approx_topk.join(
        exact_topk.select(id_col), id_col, "left_semi"
    )
    return hits.agg(
        F.lit(method).alias("method"),
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)).cast("double") / F.lit(float(k)), 4).alias(
            "recall"
        ),
    )


def _pair_dot_sql(a: str, b: str) -> str:
    """Fold-left dot of two array COLUMNS (both cast to double), same
    accumulation order as :func:`~tundradb_spark.pipeline.hashing.dot_sql`
    so any engine reproduces the doubles."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        f" cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (s, x) -> s + x)"
    )


def ivf_ann_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """BATCH ANN: IVF top-k for a whole DataFrame of query vectors in ONE
    declarative plan — the batch-retrieval shape (benchmark recall sweeps,
    per-document nearest-neighbor curation) where a per-query driver loop
    would serialize the work.

    Plan: the corpus is cell-assigned once (write-side with
    :func:`index_corpus`); each QUERY computes its own top-``n_probe``
    cells IN SQL (sort_array over (−dot, cell) structs — no driver-side
    per-query arithmetic) and explodes to (query, cell) rows; an
    **equi-join on cell** (Catalyst broadcasts the tiny query side, so
    the corpus never shuffles) pairs each query with only its probed
    cells' vectors; exact cosine scores the pairs; one window over
    ``query_id`` ranks the survivors.  Shuffle volume is the CANDIDATE
    pairs (≈ ``n_probe/n_cells`` of corpus × batch), never corpus ×
    batch — the same pruning the single-query probe gets from
    PartitionFilters, expressed as a join.

    Returns ``(query_id, vec_id, cosine)``, top-``k`` per query by
    (cosine desc, id asc).  Identical per-query results to
    :func:`ivf_ann_topk` with the same parameters (test-pinned).
    """
    if dim is None:
        dim = len(queries.select(query_vec_col).first()[0])
    cents = ivf_centroids(n_cells, dim, seed)
    assigned = ivf_assign(
        emb, n_cells, vec_col, id_col, seed, dim=dim
    ).withColumnRenamed(vec_col, "__cvec")
    qv = _vec_sql(query_vec_col)
    qdots = dots_sql(qv, cents)
    # per-query probe cells, fully in SQL: sort (−dot, cell) structs asc
    # == dot desc with first-cell tie-break (probe_cells' exact order)
    probes = (
        queries.select(
            F.col(query_id_col).cast("long").alias(query_id_col),
            F.col(query_vec_col).alias("__qvec"),
            F.expr(qdots).alias("__qdots"),
        )
        .select(
            query_id_col,
            "__qvec",
            F.expr(
                "transform(slice(sort_array(transform(__qdots, "
                f"(d, i) -> struct(-d as nd, i + 1 as cell))), 1, {n_probe}"
                "), s -> s.cell)"
            ).alias("__cells"),
        )
        .select(
            query_id_col, "__qvec", F.explode("__cells").alias("cell")
        )
    )
    pairs = assigned.join(probes, "cell")
    cos = (
        f"{_pair_dot_sql('__cvec', '__qvec')}"
        f" / (sqrt({_pair_dot_sql('__cvec', '__cvec')})"
        f" * sqrt({_pair_dot_sql('__qvec', '__qvec')}))"
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        pairs.select(
            query_id_col,
            F.col(id_col).cast("long").alias(id_col),
            F.round(F.expr(cos), 6).alias("cosine"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# quantizer sidecar — indexes carry their own training state
# ---------------------------------------------------------------------------

_QUANTIZER_FILE = "_quantizer.json"
_QUANTIZER_DIR = "_quantizer"


def _local_path(path: str) -> str | None:
    """The local-filesystem path for ``path``, or ``None`` for a
    non-local Hadoop URI.  ``file:`` URIs ARE local but must lose the
    scheme before any ``os.path`` use — handing the raw string
    ``'file:/tmp/idx'`` to ``os.makedirs`` creates a cwd-relative
    ``./file:/tmp/idx`` directory while the parquet writer targets the
    real ``/tmp/idx``, splitting the index from its sidecar."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path
    return path if "://" not in path else None


def save_quantizer(path: str, meta: dict, spark=None) -> str:
    """Persist an index's quantizer description (kind, parameters, and —
    for trained quantizers — the centroids/codebooks themselves) as a
    JSON sidecar inside the index directory.  The index becomes
    self-describing: a reader that did not run the training recovers the
    EXACT probe configuration with :func:`load_quantizer` instead of
    trusting call-site defaults to match the write-side.

    Local paths get a plain ``_quantizer.json`` file.  For any other
    Hadoop filesystem URI (s3a://, hdfs://, …) the JSON is written as a
    one-row Spark TEXT dataset under ``_quantizer/`` — the leading
    underscore keeps both shapes invisible to the index's parquet reader,
    and the write goes through the SAME filesystem the index itself uses
    (a driver-local ``open()`` against an object-store URI would silently
    write a literal local directory instead)."""
    import json
    import os

    payload = json.dumps(meta)
    lp = _local_path(path)
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
        p = os.path.join(lp, _QUANTIZER_FILE)
        with open(p, "w") as f:
            f.write(payload)
        return p
    if spark is None:
        raise ValueError(
            f"save_quantizer needs a SparkSession for non-local path {path!r}"
        )
    p = path.rstrip("/") + "/" + _QUANTIZER_DIR
    spark.createDataFrame([(payload,)], "v string").coalesce(1).write.mode(
        "overwrite"
    ).text(p)
    return p


def load_quantizer(path: str, spark=None) -> dict | None:
    """The quantizer sidecar written by the ``index_corpus*`` writers, or
    ``None`` for an index directory without one."""
    import json
    import os

    lp = _local_path(path)
    if lp is not None:
        p = os.path.join(lp, _QUANTIZER_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
    if spark is None:
        raise ValueError(
            f"load_quantizer needs a SparkSession for non-local path {path!r}"
        )
    # existence through the Hadoop FS; a sidecar that exists but cannot be
    # read raises instead of passing for "no quantizer"
    p = path.rstrip("/") + "/" + _QUANTIZER_DIR
    hp = spark._jvm.org.apache.hadoop.fs.Path(p)
    if not hp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hp):
        return None
    rows = spark.read.text(p).collect()
    return json.loads(rows[0]["value"]) if rows else None


def lsh_ann_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 8,
    probe_hamming: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """BATCH sign-LSH ANN: multi-probe top-k for a whole query DataFrame
    in one plan — the :func:`ivf_ann_topk_batch` shape for the banded
    index family.

    The Hamming-ball multi-probe becomes pure relational algebra: the
    radius-``probe_hamming`` ball around any band key is ``key XOR m``
    over the LITERAL mask set ``hamming_ball(0, band_bits, radius)``
    (37 masks at the defaults), so each query explodes to
    ``bands × |masks|`` (band_idx, probe_key) rows — computed entirely
    in SQL from the query's own signature, no per-query driver work —
    and candidates come from an **equi-join** against the corpus'
    banded posting rows (Catalyst broadcasts the tiny query side; the
    corpus never shuffles).  Per-query results are identical to
    :func:`lsh_ann_topk` with the same parameters (test-pinned): the
    join enumerates exactly the keys the compute path's bit_count
    predicate accepts.

    Returns ``(query_id, vec_id, cosine)``, top-``k`` per query.
    """
    if dim is None:
        dim = len(queries.select(query_vec_col).first()[0])
    bands = lsh_bands(n_planes, band_bits)
    mask = (1 << band_bits) - 1
    masks = hamming_ball(0, band_bits, probe_hamming)
    csigs = lsh_signature(emb, n_planes, vec_col, id_col, seed, dim=dim)
    corpus_bands = csigs.select(
        id_col,
        F.col(vec_col).alias("__cvec"),
        F.explode(F.array(*[F.lit(i) for i in range(bands)])).alias(
            "band_idx"
        ),
        F.col("sig"),
    ).select(
        id_col,
        "__cvec",
        "band_idx",
        F.expr(f"shiftright(sig, band_idx * {band_bits}) & {mask}").alias(
            "band_key"
        ),
    )
    qsigs = lsh_signature(
        queries, n_planes, query_vec_col, query_id_col, seed, dim=dim
    )
    mask_arr = "array(" + ", ".join(str(m) for m in masks) + ")"
    qkeys = (
        qsigs.select(
            F.col(query_id_col).cast("long").alias(query_id_col),
            F.col(query_vec_col).alias("__qvec"),
            F.explode(F.array(*[F.lit(i) for i in range(bands)])).alias(
                "band_idx"
            ),
            F.col("sig"),
        )
        .select(
            query_id_col,
            "__qvec",
            "band_idx",
            F.explode(
                F.expr(
                    f"transform({mask_arr}, m ->"
                    f" (shiftright(sig, band_idx * {band_bits}) & {mask})"
                    f" ^ m)"
                )
            ).alias("band_key"),
        )
    )
    cands = (
        corpus_bands.join(qkeys, ["band_idx", "band_key"])
        .dropDuplicates([query_id_col, id_col])
    )
    cos = (
        f"{_pair_dot_sql('__cvec', '__qvec')}"
        f" / (sqrt({_pair_dot_sql('__cvec', '__cvec')})"
        f" * sqrt({_pair_dot_sql('__qvec', '__qvec')}))"
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        cands.select(
            query_id_col,
            F.col(id_col).cast("long").alias(id_col),
            F.round(F.expr(cos), 6).alias("cosine"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ann_recall_batch(
    exact_batch: DataFrame,
    approx_batch: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-query recall@k for BATCH ANN results: join the approximate
    (query, neighbor) pairs against the exact ones and count hits per
    query — :func:`ann_recall` generalized over the query dimension, one
    equi-join + one grouped aggregate.  Feed it
    :func:`ivf_ann_topk_batch` / :func:`lsh_ann_topk_batch` output
    against an exact batch (e.g. `ivf_ann_topk_batch` with
    ``n_probe=n_cells``).  Returns ``(query_id, k, n_hits, recall)``,
    one row per query appearing in either input.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hits = approx_batch.select(query_id_col, id_col).join(
        exact_batch.select(query_id_col, id_col),
        [query_id_col, id_col],
        "inner",
    )
    qids = (
        exact_batch.select(query_id_col)
        .union(approx_batch.select(query_id_col))
        .distinct()
    )
    counted = hits.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        qids.join(counted, query_id_col, "left")
        .select(
            query_id_col,
            F.lit(k).cast("long").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.lit(float(k)),
                4,
            ).alias("recall"),
        )
    )
