"""Similarity search over embedding columns (SURVEY.md §7.5).

- **Brute-force top-k cosine** — the correctness baseline: broadcast the
  (small) query set against the corpus, rank per query. One pass over the
  corpus, no shuffle of the corpus itself; the only shuffle is the per-query
  top-k (tiny). This is exactly the shape you want at 100 TB when the query
  set is small: corpus-side work is map-only.
- **Hyperplane-LSH ANN** — the scale path when the query set is NOT small:
  sign-bit signatures against fixed random hyperplanes (seeded, deterministic)
  bucket the corpus; candidates come from matching buckets (plus optional
  1-bit multiprobe), then the exact cosine re-ranks. Bucketing turns the
  cross product into a per-bucket join.

Embedding-based near-dup detection (cosine ≥ threshold pairs) reuses the same
kernels (see embedding_near_dup_pairs).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import as_double, cosine, dot, l2_norm
from ..util import fan_out


def _queries(embeddings: DataFrame, query_ids: list[int],
             id_col: str, vec_col: str) -> DataFrame:
    return embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (queries excluded from results).

    Deterministic: ties broken by neighbor id. Plans as broadcast
    nested-loop of the tiny query set against the corpus scan, then a
    per-query window top-k.
    """
    corpus = fan_out(embeddings).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("nvec")
    )
    q = _queries(embeddings, query_ids, id_col, vec_col)
    # Corpus is the STREAM side, query set the broadcast side: the per-pair
    # cosine work lands on the corpus's fanned partitions (N tasks) instead
    # of the query set's single input split (1 task).
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("nvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """Fixed random hyperplanes — seeded so signatures are reproducible
    across sessions (a requirement for persisted bucket tables)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature_col(vec_col, planes: np.ndarray):
    """Sign-bit signature of `vec` against each plane, packed into a long.

    Single-column expression form (HOF dot per plane) — fine for a handful
    of rows (the query side); for corpus-scale signature computation use
    :func:`lsh_signatures_frame`, which is ~10x faster (codegen'd
    explode+aggregate instead of interpreted higher-order functions).
    """
    planes_lit = F.array(
        *[F.array(*[F.lit(float(w)) for w in plane]) for plane in planes]
    )
    dots = F.transform(planes_lit, lambda p: dot(p, vec_col))
    sig = F.lit(0).cast("long")
    for j in range(len(planes)):
        bit = (
            F.when(F.element_at(dots, j + 1) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, j))
    return sig


def lsh_signatures_frame(
    df: DataFrame,
    tables: list[np.ndarray],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, sigs: array<long>[n_tables]) for every row of `df`.

    Same explode + hash-aggregate shape as the minhash kernel (higher-order
    functions evaluate interpreted; per-element rows + SUM/MIN aggregates
    stay inside WholeStageCodegen): explode vector elements to (id, pos, x)
    rows, compute every (table, plane) dot as a SUM aggregate against
    constant-folded weight literals, then pack sign bits. fan_out hashes by
    id first, so explode → aggregate runs co-partitioned with NO extra
    shuffle, and partial aggregation folds the 64x row blowup map-side.
    """
    n_planes = tables[0].shape[0]
    wlits = [
        F.array(*[F.lit(float(w)) for w in plane])
        for tbl in tables
        for plane in tbl
    ]
    elems = fan_out(df, id_col).select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("vec"),
        F.posexplode(as_double(vec_col)).alias("pos", "x"),
    )
    dots = elems.groupBy("id").agg(
        F.first("vec").alias("vec"),
        # the L2 norm rides along for free (one more SUM in the same pass);
        # downstream cosine re-ranks then only need the dot product
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("norm"),
        *[
            F.sum(F.col("x") * F.element_at(w, F.col("pos") + 1)).alias(f"_d{i}")
            for i, w in enumerate(wlits)
        ],
    )
    sigs = []
    for t in range(len(tables)):
        sig = F.lit(0).cast("long")
        for j in range(n_planes):
            bit = (
                F.when(F.col(f"_d{t * n_planes + j}") > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            )
            sig = sig.bitwiseOR(F.shiftleft(bit, j))
        sigs.append(sig)
    return dots.select("id", "vec", "norm", F.array(*sigs).alias("sigs"))


def _norms_frame(
    df: DataFrame, *, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, norm) via the codegen explode+SUM shape — norms bit-equal
    to the index frame's (same left-to-right fold over the same explode
    order), at 1/(n_tables*n_planes) of its aggregation cost."""
    return (
        fan_out(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            as_double(vec_col).alias("vec"),
            F.posexplode(as_double(vec_col)).alias("pos", "x"),
        )
        .groupBy("id")
        .agg(
            F.first("vec").alias("vec"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("norm"),
        )
    )


def lsh_index(
    embeddings: DataFrame,
    *,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Build the reusable LSH index frame: (id, vec, norm, sigs).

    This is the ANN system's index-build step, separated from the query
    step so its cost is paid ONCE: persist the returned frame (or write it
    as a table partitioned/bucketed by bucket id) and hand it to
    :func:`cosine_topk_lsh` via ``index=``. At 100 TB the index is a
    persisted table and each query is partition-pruned bucket lookups; on a
    single session, ``.persist()`` gives the same amortization. The
    hyperplanes are seeded constants, so an index built in one session is
    valid in every later one.
    """
    tables = [_hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)]
    return lsh_signatures_frame(embeddings, tables, id_col=id_col, vec_col=vec_col)


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact cosine re-rank.

    Single-table sign-bit LSH only recalls near-duplicates: for a neighbor at
    angle θ, P(all bits agree) = (1−θ/π)^n_planes — at cosine≈0.4 and 12
    planes that is <1%. The standard fix is T independent tables of few bits
    each: recall = 1−(1−p^b)^T, tunable to any target with map-only cost
    (T signatures per corpus row, no extra shuffles). With multiprobe, each
    query additionally probes every 1-bit-flip bucket per table, which
    multiplies effective tables by (1+b) for probe-side-only cost.

    ``index`` is a prebuilt (persisted/loaded) :func:`lsh_index` frame; when
    omitted, one is derived inline. Either way the expensive signature
    aggregation is evaluated ONCE per corpus row: the bucket explode and the
    re-rank vector lookup both read the same index frame, and the query-side
    signatures come from a filtered (predicate-pushed) branch of it.

    Same output schema as the brute-force kernel so the two are drop-in
    interchangeable (recall-tested against each other in tests).
    """
    if index is None:
        sigs = lsh_index(
            embeddings, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col, dim=dim,
        )
        # No persisted index to reuse: the re-rank's (vec, norm) lookup
        # comes from a norm-only pass over the raw corpus (1 SUM) rather
        # than a second evaluation of the signature frame (n_tables x
        # n_planes SUMs). Bit-identical norms — same left-to-right fold.
        rerank_src = _norms_frame(embeddings, id_col=id_col, vec_col=vec_col)
    else:
        sigs = index
        rerank_src = index
    corpus = sigs.select(
        F.col("id").alias("neighbor_id"),
        F.posexplode("sigs").alias("table_idx", "bucket"),
    )
    # Query-side signatures are a filtered branch of the index: on a
    # persisted index this is a cache lookup; unpersisted, the isin filter
    # pushes down to the scan so only the query rows pay the aggregation.
    qsigs = sigs.filter(F.col("id").isin(query_ids))
    probe_cols = []
    for t in range(n_tables):
        sig = F.element_at("sigs", t + 1)
        probes = [sig]
        if multiprobe:
            probes += [
                sig.bitwiseXOR(F.lit(1 << j).cast("long")) for j in range(n_planes)
            ]
        probe_cols += [
            F.struct(F.lit(t).alias("table_idx"), s.alias("bucket"))
            for s in probes
        ]
    q = qsigs.select(
        F.col("id").alias("query_id"),
        F.explode(F.array(*probe_cols)).alias("probe"),
    ).select("query_id", "probe.table_idx", "probe.bucket")
    # Candidate ids first, cosine second: a neighbor matching via several
    # tables/probes is deduplicated BEFORE the (expensive) re-rank, so each
    # unique pair pays for exactly one dot product — and the signature
    # frame already carries the norms.
    cands = (
        F.broadcast(q)
        .join(corpus, ["table_idx", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qvecs = qsigs.select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    nvecs = rerank_src.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nnorm"),
    )
    scored = (
        cands.join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / F.nullif(F.col("qnorm") * F.col("nnorm"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) within blocks.

    The blocked all-pairs form (oracle-checkable); the unblocked scale path
    is the LSH bucketing above with threshold filtering.
    """
    # Norms once per VECTOR (n folds), not once per PAIR (n² folds): the
    # pair-level cosine then costs a single dot product.
    vecs = fan_out(embeddings, id_col).select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        as_double(vec_col).alias("v"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    a, b = vecs.alias("a"), vecs.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"))
                / F.nullif(F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )

def _hash_sample(
    embeddings: DataFrame,
    *,
    cap: int,
    seed_mod: int,
    id_col: str,
    vec_col: str,
):
    """Bounded deterministic training sample shared by every quantizer
    trainer (IVF centroids, PQ codebooks): ONE narrow Spark pass —
    TakeOrderedAndProject on ``xxhash64(id)`` (partial top-k map-side, no
    full sort) pulls ≤ ``cap`` vectors to the driver, with k-means seed
    labels from ``pmod(xxhash64(id), seed_mod)``. Returns
    ``(sample, seeds)`` numpy arrays (empty when the corpus is). The
    driver-side state is parameter-bounded, never corpus-sized."""
    import numpy as np

    rows = (
        embeddings.select(
            F.xxhash64(F.col(id_col)).alias("_h"),
            F.col(id_col).alias("id"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(seed_mod)).alias("_seed"),
            as_double(vec_col).alias("v"),
        )
        .orderBy("_h", "id")
        .limit(cap)
        .collect()
    )
    if not rows:
        return np.empty((0, 0)), np.empty((0,), dtype=np.int64)
    rows.sort(key=lambda r: (r["_h"], r["id"]))
    sample = np.array([r["v"] for r in rows], dtype=np.float64)
    seeds = np.array([r["_seed"] for r in rows], dtype=np.int64)
    return sample, seeds


def _ivf_centroids(
    embeddings: DataFrame,
    *,
    nlist: int,
    id_col: str,
    vec_col: str,
    iterations: int = 2,
    sample_per_cell: int = 256,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: k-means trained on a BOUNDED
    hash-sample of the corpus (FAISS convention — ``sample_per_cell``
    x ``nlist`` vectors), no RNG — reproducible across runs/sessions, the
    same requirement as the LSH hyperplanes.

    One narrow Spark pass: TakeOrderedAndProject on ``xxhash64(id)`` pulls
    the ≤ sample_per_cell*nlist training vectors to the driver (partial
    top-k map-side — no full sort, no explode), then Lloyd iterations run
    driver-local in numpy over the sample. The driver-side state is
    bounded by the *parameters*, never the corpus size, so the training
    cost is flat in corpus scale; the only full-corpus work an IVF build
    does is the single assignment pass in :func:`ivf_index`.

    Seeding matches the old full-corpus kernel: cell c starts as the mean
    of sampled vectors with ``pmod(xxhash64(id), nlist) == c``; cells the
    sample never hits are dropped (same compaction the corpus-pass version
    applied). Tie-break on assignment is smallest cell index, matching
    :func:`nearest_centroid_col` / :func:`assign_cells_frame`.
    """
    import numpy as np

    sample, seeds = _hash_sample(
        embeddings,
        cap=sample_per_cell * nlist,
        seed_mod=nlist,
        id_col=id_col,
        vec_col=vec_col,
    )
    if not len(sample):
        return []

    live = sorted({int(s) for s in seeds})
    cents = np.stack([sample[seeds == c].mean(axis=0) for c in live])
    for _ in range(iterations):
        # argmax dot with first-index (= smallest cell) tie-break.
        assign = np.argmax(sample @ cents.T, axis=1)
        for j in range(len(live)):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def assign_cells_frame(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, norm, _cell) for every row of `df` — the corpus-scale
    assignment kernel (codegen explode+aggregate).
    :func:`nearest_centroid_col` is the single-expression twin for tiny
    frames (e.g. query-side probes)."""
    elems = fan_out(df, id_col).select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("vec"),
        F.posexplode(as_double(vec_col)).alias("pos", "x"),
    )
    clits = [F.array(*[F.lit(float(w)) for w in c]) for c in centroids]
    dots = elems.groupBy("id").agg(
        F.first("vec").alias("vec"),
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("norm"),
        *[
            F.sum(F.col("x") * F.element_at(c, F.col("pos") + 1)).alias(f"_d{i}")
            for i, c in enumerate(clits)
        ],
    )
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-F.col(f"_d{i}")).alias("negd"), F.lit(i).alias("cell")
                )
                for i in range(len(centroids))
            ]
        )
    )
    return dots.select(
        "id", "vec", "norm",
        F.element_at(ranked, 1).getField("cell").alias("_cell"),
    )


def nearest_cells(vec_col, centroids: list[list[float]], n: int = 1):
    """Top-``n`` nearest cell ids (argmax dot, smallest-cell tie-break)
    as an array — the ONE centroid-ranking kernel behind single-cell
    assignment (n=1) and every nprobe probe side.

    Dot (not L2) is the IVF-flat-IP convention and matches the cosine
    re-rank after per-vector normalization is folded into the score.
    The argmax is a sort-of-structs over ONE dots array — a chained
    when(d > best, ...) fold would nest each step's tree inside the next
    (2^nlist expression blowup; the analyzer hangs before the job starts).
    """
    clits = F.array(*[F.array(*[F.lit(float(w)) for w in c]) for c in centroids])
    dots = F.transform(clits, lambda c: dot(c, as_double(vec_col)))
    ranked = F.array_sort(
        F.zip_with(
            dots,
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda d, i: F.struct((-d).alias("negd"), i.alias("cell")),
        )
    )
    return F.slice(ranked, 1, n).getField("cell")


def nearest_centroid_col(vec_col, centroids: list[list[float]]):
    """argmax-dot cell id (:func:`nearest_cells` at n=1, unwrapped)."""
    return F.element_at(nearest_cells(vec_col, centroids, 1), 1)


def ivf_index(
    embeddings: DataFrame,
    *,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index: (centroids, assigned corpus frame).

    The returned frame is (id, vec, norm, _cell) — persist it, or at scale
    write it as a table PARTITIONED BY ``_cell`` so that probing nprobe
    cells is partition pruning (reads nprobe/nlist of the corpus). The
    centroid matrix (nlist x dim floats) is the only driver-side state; it
    is deterministic, so it can be recomputed or stored alongside the
    table. Hand both to :func:`cosine_topk_ivf` via ``index=`` to amortize
    training across queries.
    """
    centroids = _ivf_centroids(
        embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col,
        iterations=iterations,
    )
    assigned = assign_cells_frame(
        embeddings, centroids, id_col=id_col, vec_col=vec_col
    )
    return centroids, assigned


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[list[list[float]], DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means cells
    partition the corpus; each query scans only its `nprobe` nearest cells.

    The third ANN tier next to brute force (exact) and hyperplane LSH:
    IVF gives data-adaptive cells (better recall on clustered corpora than
    data-oblivious hyperplanes) at the cost of the one-off training pass.
    ``index`` is a prebuilt :func:`ivf_index` result; when omitted, one is
    trained inline. At scale the cell id is a natural PARTITION/bucket
    column for the persisted index table — probing nprobe cells is then
    partition pruning, reading nprobe/nlist of the corpus.

    Same output schema as the brute-force kernel; recall-tested against it,
    and the re-rank scores stay bit-equal to the exact kernel (the
    harness's IVF audit gate pins that): the index norm is the same
    left-to-right fold as ``l2_norm``, and the pair dot is the same HOF.
    """
    if index is None:
        index = ivf_index(
            embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col
        )
    centroids, assigned = index
    corpus = assigned.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nnorm"),
        "_cell",
    )
    # per-query nprobe nearest cells, exploded to (query_id, _cell) probes.
    # Query side is a filtered branch of the index (cache/pushdown-friendly,
    # like the LSH query path); the handful of centroid dots per query row
    # stay in single-expression HOF form — interpreted, but O(queries).
    q = assigned.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    q = q.select(
        "query_id", "qvec", "qnorm",
        F.explode(
            nearest_cells(F.col("qvec"), centroids, nprobe)
        ).alias("_cell"),
    )
    scored = (
        F.broadcast(q)
        .join(corpus, "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / F.nullif(F.col("qnorm") * F.col("nnorm"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def group_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group mean vector (centroid) of an embedding column, plus the
    group's member count — the building block for cluster profiling, IVF
    cell refresh, and class-prototype similarity.

    Physical shape: ``posexplode`` to (group, pos, component) — a map-side
    expansion by the fixed dim, no Python — then ONE hash-aggregate keyed
    (group, pos) with partial (map-side) combine, and a per-group
    reassembly ``array_sort(collect_list(struct(pos, avg)))``. Shuffle
    volume is |groups| x dim rows regardless of corpus size, so this scales
    to any corpus that has bounded group cardinality.
    """
    exploded = fan_out(df, group_col).select(
        F.col(group_col),
        F.posexplode(as_double(vec_col)).alias("pos", "component"),
    )
    per_dim = exploded.groupBy(group_col, "pos").agg(
        F.avg("component").alias("mean_c"),
        F.count("*").alias("n_members"),
    )
    return per_dim.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_c"))),
            lambda s: s["mean_c"],
        ).alias("centroid"),
        F.first("n_members").alias("n_vectors"),
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """(id, scale, qvec) — symmetric per-vector integer quantization of an
    embedding column: ``q_i = floor(x_i / max_abs * qmax + 0.5)`` with
    ``qmax = 2^(bits-1) - 1`` (int8 by default), ``scale = max_abs /
    qmax``, reconstruction ``x̂_i = q_i * scale`` with error ≤ scale/2
    per component. THE storage lever for embedding columns at corpus
    scale: a 100 TB float32 embedding table becomes ~25 TB of int8 + one
    float per vector, and brute-force/IVF scoring over dequantized (or
    int-dot) vectors proceeds unchanged within quantization error.

    Entirely map-side (transform/array_max expressions in codegen — no
    shuffle, no UDF). All arithmetic is pinned to DOUBLE before the
    divide/scale so the rounded integers are bit-identical in any engine
    that mirrors the formula (float-precision intermediates would let two
    engines round a borderline component apart); floor(v + 0.5) is used
    instead of round() because engines disagree on banker's vs half-up
    rounding. Zero vectors quantize to zeros with scale 0.
    """
    qmax = 2 ** (bits - 1) - 1
    maxabs = F.array_max(
        F.transform(vec_col, lambda x: F.abs(x.cast("double")))
    )
    with_m = df.select(
        F.col(id_col), F.col(vec_col), maxabs.alias("_maxabs")
    )
    q = F.transform(
        vec_col,
        lambda x: F.when(F.col("_maxabs") == 0, F.lit(0))
        .otherwise(
            F.floor(
                x.cast("double") / F.col("_maxabs") * F.lit(qmax)
                + F.lit(0.5)
            )
        )
        .cast("int"),
    )
    return with_m.select(
        F.col(id_col),
        (F.col("_maxabs") / F.lit(qmax)).alias("scale"),
        q.alias("qvec"),
    )


def dequantize_embeddings(
    qdf: DataFrame,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec) — inverse of :func:`quantize_embeddings`:
    ``x̂_i = q_i * scale`` (double components). Map-side."""
    return qdf.select(
        F.col(id_col),
        F.transform(
            "qvec", lambda v: v.cast("double") * F.col("scale")
        ).alias("vec"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bounded ANN tier
# ---------------------------------------------------------------------------


def pq_codebooks(
    embeddings: DataFrame,
    *,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    sample_per_code: int = 256,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the vector splits into ``m`` subspaces
    of dim/m dims; each subspace trains ``ksub`` L2 k-means codewords on
    the shared :func:`_hash_sample` convention (bounded deterministic
    sample, Lloyd iterations driver-local in numpy, seeds from
    pmod(xxhash64(id), ksub), no RNG anywhere) — a pure function of the
    corpus and parameters, reproducible across runs, sessions, and
    executor counts. Driver-side state is parameter-bounded
    (``sample_per_code·ksub`` vectors + the m×ksub×dsub codebook floats).
    """
    import numpy as np

    sample, seeds = _hash_sample(
        embeddings,
        cap=sample_per_code * ksub,
        seed_mod=ksub,
        id_col=id_col,
        vec_col=vec_col,
    )
    if not len(sample):
        return []
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = sample[:, j * dsub : (j + 1) * dsub]
        live = sorted({int(s) for s in seeds})
        cents = np.stack([S[seeds == c].mean(axis=0) for c in live])
        for _ in range(iterations):
            # L2 argmin with first-index (= smallest code) tie-break
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(len(live)):
                members = S[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def _pq_codes_col(vec, codebooks: list[list[list[float]]]):
    """array<int> of m per-subspace code assignments (L2 argmin against
    the literal codebooks; map-only, the same array_sort-of-structs
    argmin as :func:`nearest_centroid_col`). This is the pure-Catalyst
    reference encoder — O(m·ksub) HOF dots per row; fine for corpora in
    the millions, but the interpreted-lambda constant makes the Arrow
    encoder (:func:`pq_index` ``encoder="arrow"``, the default) the
    100 TB path. (A flat element_at multiply-add unroll was measured
    SLOWER — 1024 chained scalar expressions fall off the codegen
    cliff: 10.9 s vs 5.7 s at 20k×64.)"""
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    parts = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(vec, j * dsub + 1, dsub)
        cb_lit = F.array(
            *[F.array(*[F.lit(float(w)) for w in c]) for c in cb]
        )
        d2 = F.transform(
            cb_lit,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        ranked = F.array_sort(
            F.zip_with(
                d2,
                F.sequence(F.lit(0), F.lit(ksub - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("code")),
            )
        )
        parts.append(F.element_at(ranked, 1).getField("code"))
    return F.array(*parts)


def pq_index(
    embeddings: DataFrame,
    *,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    codebooks: list[list[list[float]]] | None = None,
    encoder: str = "arrow",
    coarse_centroids: list[list[float]] | None = None,
) -> tuple[list[list[list[float]]], DataFrame]:
    """Build the PQ index: (codebooks, codes frame (id, norm, codes[,
    _cell])).

    THE 100 TB payoff: the scanned frame carries ``m`` small ints + one
    float per vector (~17 bytes at m=16) instead of dim×4 raw floats —
    a 64-dim float corpus compresses ~15×, so the ANN scan's working set
    fits where the raw vectors never would. The exact norm is computed
    once here from the raw vector (it is the cosine denominator at query
    time and the raw vecs are NOT in the index frame). Persist the codes
    frame or write it as a table; ``coarse_centroids`` additionally
    stamps each row's IVF cell IN THE SAME PASS (argmax dot,
    smallest-cell tie-break — identical to
    :func:`nearest_centroid_col`), which is how :func:`ivfpq_index`
    builds the composed layout with ONE corpus scan; partition the
    persisted table by that ``_cell``.

    ``encoder``: the one-off encode pass is m·ksub L2 argmins per row —
    batch linear algebra, exactly the shape Catalyst HOFs pay an
    interpreted-lambda constant for. ``"arrow"`` (default) runs it as a
    vectorized numpy ``mapInPandas`` stage (map-only, partitioning
    preserved, self-contained closure; ~7× the HOF throughput). ``"sql"``
    is the pure-Catalyst reference used differentially in tests (its
    ``_cell`` stamp composes :func:`assign_cells_frame` via an id join —
    reference semantics, not the scale path). Both are deterministic;
    a near-tie broken differently by summation order cannot change
    refined RESULTS (the query path re-ranks candidates on raw
    vectors), only candidate-set membership at the margin.
    """
    if codebooks is None:
        codebooks = pq_codebooks(
            embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col,
            iterations=iterations,
        )
    id_type = dict(embeddings.dtypes)[id_col]
    if not codebooks:
        # Degenerate-data posture (cf. _hash_sample / _ivf_centroids
        # returning empty): an EMPTY corpus trains no codebooks, and
        # both encoders would otherwise raise IndexError on cbs[0] in
        # every task. Empty corpus -> empty index, same schema.
        empty_schema = f"id {id_type}, norm double, codes array<int>"
        if coarse_centroids is not None:
            empty_schema += ", _cell int"
        return codebooks, embeddings.sparkSession.createDataFrame(
            [], empty_schema
        )
    if encoder == "sql":
        vec = as_double(vec_col)
        codes = fan_out(embeddings, id_col).select(
            F.col(id_col).alias("id"),
            l2_norm(vec).alias("norm"),
            _pq_codes_col(vec, codebooks).alias("codes"),
        )
        if coarse_centroids is not None:
            cells = assign_cells_frame(
                embeddings, coarse_centroids, id_col=id_col, vec_col=vec_col
            ).select("id", "_cell")
            codes = codes.join(cells, "id")
        return codebooks, codes
    if encoder != "arrow":
        raise ValueError(f"encoder must be 'arrow' or 'sql', got {encoder!r}")
    # plain nested lists: the closure must be self-contained (workers
    # unpickle without this repo on sys.path; locals pickle by value)
    books = [[list(map(float, c)) for c in cb] for cb in codebooks]
    coarse = (
        [list(map(float, c)) for c in coarse_centroids]
        if coarse_centroids is not None
        else None
    )
    out_schema = f"id {id_type}, norm double, codes array<int>"
    if coarse is not None:
        out_schema += ", _cell int"

    def _encode(batches):
        import numpy as np
        import pandas as pd

        cbs = [np.array(cb, dtype=np.float64) for cb in books]
        cents = (
            np.array(coarse, dtype=np.float64) if coarse is not None else None
        )
        n_sub = len(cbs)
        d_sub = cbs[0].shape[1]
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            norms = np.sqrt((X * X).sum(axis=1))
            codes = np.stack(
                [
                    (
                        (X[:, j * d_sub : (j + 1) * d_sub, None]
                         - cbs[j].T[None]) ** 2
                    )
                    .sum(axis=1)
                    .argmin(axis=1)
                    for j in range(n_sub)
                ],
                axis=1,
            )
            out = {
                "id": pdf["_id"],
                "norm": norms,
                "codes": [r.tolist() for r in codes.astype("int32")],
            }
            if cents is not None:
                # argmax dot, first-index tie-break — matches
                # nearest_centroid_col / assign_cells_frame
                out["_cell"] = (X @ cents.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame(out)

    codes = (
        fan_out(embeddings, id_col)
        .select(
            F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
        )
        .mapInPandas(_encode, out_schema)
    )
    return codebooks, codes


def _pq_query_frame(qraw: DataFrame, codebooks: list[list[list[float]]]):
    """(query_id, qvec, _tab, qnorm): the per-query ADC dot-tables (one
    m×ksub array) + norm — the broadcast side of every PQ scan."""
    dsub = len(codebooks[0][0])

    def _table_for(j: int, cb: list[list[float]]):
        # closure factory, NOT a default-arg lambda: F.transform treats a
        # 2-arg callable as (element, index) and would hijack the default
        sub = F.slice(F.col("qvec"), j * dsub + 1, dsub)
        cb_lit = F.array(
            *[F.array(*[F.lit(float(w)) for w in c]) for c in cb]
        )
        return F.transform(cb_lit, lambda c: dot(sub, c))

    return qraw.select(
        "query_id",
        "qvec",
        F.array(
            *[_table_for(j, cb) for j, cb in enumerate(codebooks)]
        ).alias("_tab"),
        l2_norm(F.col("qvec")).alias("qnorm"),
    )


#: ADC score: Σⱼ table[j][code_j], normalized to approximate cosine.
def _adc_sim():
    lookup = F.zip_with(
        F.col("codes"), F.col("_tab"), lambda c, t: F.element_at(t, c + 1)
    )
    adc = F.aggregate(lookup, F.lit(0.0), lambda acc, v: acc + v)
    return adc / F.nullif(F.col("qnorm") * F.col("norm"), F.lit(0.0))


def _adc_topk_refined(
    scored: DataFrame,
    embeddings: DataFrame,
    qraw: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    refine: int,
) -> DataFrame:
    """Shared tail of every PQ query path: window-top-(refine·k) on the
    ADC score, then the EXACT re-rank — candidates join back to the raw
    vectors by id (refine·k·|queries| rows, never corpus-scale) and the
    final cosine goes through the same kernel as brute force, so
    returned scores are bit-equal to it."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("_adc_sim"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    raw = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("nvec")
    )
    exact = (
        cand.join(raw, "neighbor_id")
        .join(F.broadcast(qraw), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("nvec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def cosine_topk_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 5,
    m: int = 16,
    ksub: int = 16,
    refine: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[list[list[list[float]]], DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via product quantization with exact re-rank —
    the memory-bounded fourth ANN tier next to brute force, LSH, and IVF.

    ADC (asymmetric distance computation): the query stays full-precision
    and precomputes one m×ksub dot-table against the codebooks; each
    corpus vector then scores as Σⱼ table[j][code_j] — an array lookup
    per subspace over the ~17-byte code rows, no raw vectors touched.
    The ADC top-``refine × k`` candidates per query are re-ranked EXACTLY
    (:func:`_adc_topk_refined`), so the returned cosine values are
    bit-equal to the brute-force kernel and only RECALL is approximate
    (0.96 at the default parameters on the fixture corpus vs 0.16
    un-refined — the refine join is what makes PQ usable at this
    dimensionality).

    Scale shape: codes scan is map-side against the broadcast query
    tables; one window top-R on the ADC score; the refine join touches
    R·|queries| corpus rows by id. Compose with IVF partitioning for
    sub-linear scans (:func:`cosine_topk_ivfpq`).
    """
    if index is None:
        index = pq_index(
            embeddings, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
        )
    codebooks, codes = index
    qraw = _queries(embeddings, query_ids, id_col, vec_col)
    q = _pq_query_frame(qraw, codebooks)
    scored = (
        codes.crossJoin(F.broadcast(q.drop("qvec")))
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_sim().alias("_adc_sim"),
        )
    )
    return _adc_topk_refined(
        scored, embeddings, qraw, id_col=id_col, vec_col=vec_col,
        k=k, refine=refine,
    )


def ivfpq_index(
    embeddings: DataFrame,
    *,
    nlist: int = 16,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """IVF ∘ PQ — the production ANN layout: the coarse quantizer prunes
    WHICH rows are scanned (nprobe/nlist of the corpus; at scale the
    ``_cell`` column is the index table's partition key, so probing is
    partition pruning) and PQ bounds WHAT each scanned row costs (~17
    bytes of codes instead of raw floats). Returns
    (centroids, codebooks, frame(id, norm, codes, _cell)).

    Both quantizers train on the shared bounded hash-sample machinery
    (one sampling scan each, parameter-bounded driver state), and the
    corpus is scanned ONCE: the Arrow encoder stamps cells and codes in
    the same map-only pass (:func:`pq_index` ``coarse_centroids``).
    """
    centroids = _ivf_centroids(
        embeddings, nlist=nlist, id_col=id_col, vec_col=vec_col,
        iterations=2, sample_per_cell=256,
    )
    codebooks, frame = pq_index(
        embeddings,
        m=m,
        ksub=ksub,
        id_col=id_col,
        vec_col=vec_col,
        coarse_centroids=centroids,
    )
    return centroids, codebooks, frame


def cosine_topk_ivfpq(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 5,
    nprobe: int = 8,
    refine: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[
        list[list[float]], list[list[list[float]]], DataFrame
    ] | None = None,
) -> DataFrame:
    """Approximate top-k through the composed IVF+PQ index: prune to the
    ``nprobe`` nearest cells per query, ADC-score only those cells'
    code rows, exact-re-rank the top ``refine·k`` — the FAISS IVFPQ
    recipe as three declarative stages (probe-cell explode + the shared
    :func:`_pq_query_frame` / :func:`_adc_topk_refined` machinery of
    the flat PQ path). Same output schema and the same exactness
    contract as :func:`cosine_topk_pq` (returned cosines are bit-equal
    to brute force; recall is the approximation — 0.88 at nprobe=8 on
    the fixture corpus vs PQ-flat's 0.96, the price of scanning half
    the cells; nprobe is the recall/cost dial exactly as in FAISS).
    """
    if index is None:
        index = ivfpq_index(
            embeddings, id_col=id_col, vec_col=vec_col
        )
    centroids, codebooks, frame = index
    qraw = _queries(embeddings, query_ids, id_col, vec_col)
    q = _pq_query_frame(qraw, codebooks).withColumn(
        "_cell", F.explode(nearest_cells(F.col("qvec"), centroids, nprobe))
    )
    scored = (
        F.broadcast(q.drop("qvec"))
        .join(frame, "_cell")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_sim().alias("_adc_sim"),
        )
    )
    return _adc_topk_refined(
        scored, embeddings, qraw, id_col=id_col, vec_col=vec_col,
        k=k, refine=refine,
    )


def bitext_margin_mining(
    src: DataFrame,
    tgt: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    threshold: float = 1.0,
    mutual: bool = False,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(src_id, tgt_id, cos_sim, margin_score) — margin-based parallel-
    pair mining between two embedding frames (Artetxe & Schwenk 2019,
    the criterion behind CCMatrix/LASER bitext mining; WMT's standard
    for building MT training corpora from web crawl): raw cosine
    over-selects "hub" sentences that are near everything, so each
    pair is scored by its cosine RELATIVE to both sides' neighborhood
    densities — the ratio-margin

        margin(x, y) = cos(x, y) /
            ((avg cos(x, NN_k(x, tgt)) + avg cos(y, NN_k(y, src))) / 2)

    — and each source row keeps its best-margin target when that
    margin reaches ``threshold`` (>1 means "closer than the
    neighborhood average"). ``mutual=True`` keeps only pairs that are
    each other's best (the paper's intersection variant — higher
    precision, used when both sides are noisy).

    DETERMINISM (the repo's float-ranking contract, the
    cosine_topk_bruteforce / tfidf precedent): every interior
    selection — the k-NN membership feeding the averages, the
    best-margin argmax, the mutual check — orders by the ROUND-6
    score with the partner id as tiebreak, so a last-ulp float
    disagreement (cross-engine, or Spark's own float-sum order) can
    never flip a selection; ``margin_score`` is rounded at the
    presentation edge and the threshold cut applies to the rounded
    value both engines share.

    Scale shape: with ``candidates=None`` the scoring is the exact
    all-pairs form (|src| x |tgt| — the oracle-checkable/eval-set
    path; plans as a broadcast nested-loop with the per-pair cosine
    on the fanned src side). At corpus scale pass ``candidates`` —
    a (src_id, tgt_id) frame from the ANN tier (IVF cells, LSH
    buckets: the cosine_topk_* machinery) — and everything downstream
    of scoring is equi-joins and per-id windows over |candidates|
    rows. The scored frame feeds THREE consumers (both k-NN averages
    and the final margin join), so it is ``localCheckpoint``-ed once
    (4 narrow columns per candidate — bounded; the triage-operator
    precedent), making the operator EAGER at call time.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    a = fan_out(src, id_col).select(
        F.col(id_col).alias("src_id"), as_double(vec_col).alias("_va")
    )
    b = tgt.select(
        F.col(id_col).alias("tgt_id"), as_double(vec_col).alias("_vb")
    )
    if candidates is None:
        pairs = a.crossJoin(b)
    else:
        pairs = (
            candidates.select("src_id", "tgt_id")
            .distinct()
            .join(a, "src_id")
            .join(b, "tgt_id")
        )
    scored = pairs.select(
        "src_id",
        "tgt_id",
        F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
    ).localCheckpoint()
    wa = Window.partitionBy("src_id").orderBy(
        F.desc("cos_sim"), F.asc("tgt_id")
    )
    a_avg = (
        scored.withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= k)
        .groupBy("src_id")
        .agg(F.avg("cos_sim").alias("_a_avg"))
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.desc("cos_sim"), F.asc("src_id")
    )
    b_avg = (
        scored.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= k)
        .groupBy("tgt_id")
        .agg(F.avg("cos_sim").alias("_b_avg"))
    )
    # the neighborhood averages are ROUND-6 pinned BEFORE the division
    # (r15 review): F.avg's float accumulation order is not pinned, so
    # an unrounded denominator could flip margin_score's 6th decimal on
    # an exact rounding boundary across partition orders/engines — the
    # same last-ulp class the cos_sim rounding already closes
    margins = (
        scored.join(a_avg, "src_id")
        .join(b_avg, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "cos_sim",
            F.round(
                F.col("cos_sim")
                / (
                    (
                        F.round(F.col("_a_avg"), 6)
                        + F.round(F.col("_b_avg"), 6)
                    )
                    / 2
                ),
                6,
            ).alias("margin_score"),
        )
    )
    w_fwd = Window.partitionBy("src_id").orderBy(
        F.desc("margin_score"), F.asc("tgt_id")
    )
    ranked = margins.withColumn("_rf", F.row_number().over(w_fwd))
    if mutual:
        # single-pass intersection (r15 review): rank BOTH directions
        # over the one margins frame instead of rebuilding the whole
        # margin plan for a self-join
        w_bwd = Window.partitionBy("tgt_id").orderBy(
            F.desc("margin_score"), F.asc("src_id")
        )
        ranked = ranked.withColumn("_rb", F.row_number().over(w_bwd)).filter(
            F.col("_rb") == 1
        )
    return (
        ranked.filter(
            (F.col("_rf") == 1) & (F.col("margin_score") >= threshold)
        )
        .select("src_id", "tgt_id", "cos_sim", "margin_score")
    )
