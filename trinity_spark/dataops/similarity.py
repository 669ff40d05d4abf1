"""Similarity search over embedding columns (array<float/double>).

Two paths, as a 100 TB pipeline needs both:

- ``brute_force_topk``: exact cosine top-k of a query vector against every
  row — one scan, JVM-side ``F.zip_with``/``F.aggregate`` arithmetic (no
  Python), ``TakeOrderedAndProject`` for the global k.  The correctness
  baseline and the right choice below ~10^8 vectors.
- ``lsh_topk``: random-hyperplane LSH. Deterministic hyperplanes are derived
  from md5 of (seed, bit, dim) so signatures are reproducible anywhere; the
  query probes only its own bucket ring (hamming radius 0..r), turning the
  scan into a bucket-pruned candidate rescore.  Recall/latency knob = bits +
  probe radius.  On a cluster the signature column is precomputed once and
  bucketed/clustered on write, so a query touches a few partitions.

- ``cosine_pairs``: embedding-cosine near-duplicate pairs over an
  LSH-bucketed self-join (the embedding analog of minhash dedup).

Each job keeps the JVM fold as its oracle path and at most one vectorized
kernel beside it: the pair verifies take ``kernel="sql"`` (the fold) or
``kernel="gram"`` (per-bucket BLAS), and IVF list assignment has the one
Arrow matrix kernel ``ivf_assign_arrow`` next to the literal-expression
``ivf_index``.
"""

from __future__ import annotations

import hashlib
import logging
import math
import numbers

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_all_pairs

_log = logging.getLogger(__name__)

_INTEGRAL = {"bigint", "int", "smallint", "tinyint"}


def _require_integral_id(df: DataFrame, id_col: str, ctx: str) -> None:
    """The numpy kernels carry ids as int64: a string id silently casts to
    NULL long and produces garbage pairs mid-job — fail at plan time."""
    dt = dict(df.dtypes).get(id_col)
    if dt not in _INTEGRAL:
        raise ValueError(
            f"{ctx}: id column {id_col!r} must be an integral type for the "
            f"numpy kernels (got {dt!r}); map string ids to int64 first "
            "(e.g. xxhash64) or use kernel='sql'"
        )


def _require_integral_labels(df: DataFrame, label_col: str, ctx: str) -> None:
    """Every kNN route votes over int64 labels: a string label column
    would fail mid-job on the long cast — reject it at plan time."""
    dt = dict(df.dtypes).get(label_col)
    if dt not in _INTEGRAL:
        raise ValueError(
            f"{ctx}: label column {label_col!r} must be an integral type "
            f"(got {dt!r}); map labels to int64 first"
        )


def _check_pair_kernel(kernel: str) -> None:
    """The pair verifies take the JVM fold ("sql", the oracle contract) or
    the per-bucket Gram matrix ("gram", the throughput path) — checked
    before any input frame is touched."""
    if kernel not in ("sql", "gram"):
        raise ValueError(f"unknown kernel {kernel!r}; use 'sql' or 'gram'")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine with the SAME zero-norm clamp as the numpy kernels
    (ivf_assign_arrow etc. use max(norm, 1e-300)): a zero vector scores
    0.0 against everything.  Without the clamp the SQL fold returned NaN,
    and Spark sorts NaN ABOVE every number — a single all-zero embedding
    would top every brute-force ranking and pass every >= threshold
    near-dup verify."""
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-300))


def brute_force_topk(
    vectors: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (id, score), score desc, id asc tie-break."""
    q = F.array(*[F.lit(float(x)) for x in query])
    emb = F.col(vec_col).cast("array<double>")
    # dim mismatch must raise, not rank garbage: zip_with pads the short
    # side with NULL, the fold absorbs it, every score goes NULL, and
    # limit(k) would return k arbitrary ids
    score = F.when(
        F.size(emb) != len(query),
        F.assert_true(
            F.size(emb) == len(query),
            f"brute_force_topk: query dim {len(query)} != embedding dim",
        ).cast("double"),
    ).otherwise(F.round(cosine(emb, q), 6))
    scored = vectors.select(F.col(id_col), score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


# --- random-hyperplane LSH ---------------------------------------------------


def _hyperplane(seed: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from md5 bytes."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}|{bit}|{d}".encode()).hexdigest()
        # map 8 hex chars -> [-1, 1)
        out.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return out


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the vector against each hyperplane."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(vec_col, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = sig + bit.cast("long")
    return sig


def add_lsh_signatures(
    vectors: DataFrame,
    dim: int,
    bits: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    planes = [_hyperplane(seed, b, dim) for b in range(bits)]
    return (
        vectors.withColumn(
            "lsh_sig", lsh_signature(F.col(vec_col).cast("array<double>"), planes)
        ),
        planes,
    )


def _query_sig(query: list[float], planes: list[list[float]]) -> int:
    if planes and len(query) != len(planes[0]):
        # zip would silently truncate and probe the wrong buckets
        raise ValueError(
            f"query dim {len(query)} != plane dim {len(planes[0])}"
        )
    sig = 0
    for i, plane in enumerate(planes):
        if sum(x * y for x, y in zip(query, plane)) >= 0:
            sig |= 1 << i
    return sig


def lsh_topk(
    vectors_with_sig: DataFrame,
    planes: list[list[float]],
    query: list[float],
    k: int = 10,
    probe_radius: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: rescore only rows whose signature is within
    ``probe_radius`` hamming distance of the query signature."""
    qsig = _query_sig(query, planes)
    candidates = vectors_with_sig.where(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(qsig))) <= probe_radius
    )
    return brute_force_topk(candidates, query, k, id_col, vec_col)


# --- IVF (inverted-file) ANN --------------------------------------------------


def _argmax_cosine(vec: Column, cents: list[list[float]]) -> Column:
    """Index of the max-cosine centroid, as one JVM expression: array_max
    over (cosine, idx) structs (struct comparison is field-ordered)."""
    pairs = F.array(
        *[
            F.struct(
                cosine(vec, F.array(*[F.lit(float(x)) for x in c])).alias("c"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(cents)
        ]
    )
    return F.array_max(pairs)["i"]


def ivf_index(
    vectors: DataFrame,
    n_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF partitioning: deterministic k-means over the embedding column.

    Init = the ``n_lists`` vectors with smallest md5(id) (a deterministic
    sample, reproducible anywhere); ``iters`` Lloyd rounds follow, each one
    Spark job: assign (JVM expression argmax) + per-dimension mean via
    posexplode/groupBy.  Returns (vectors + ``list_id``, centroids).

    Scale notes: centroids live in the plan as literals and the Lloyd update
    collects n_lists x dim mean cells per round — the right call up to a few
    hundred lists, and the oracle-checked reference the scale path is tested
    against.  Past that use ``ivf_index_scalable`` (Arrow matrix assignment
    + in-Spark update); at 10^9+ vectors the list assignment is computed
    once and the table is written partitioned/clustered BY list_id so a
    query's probes touch only its lists' files — the IVF promise in
    storage-pruning form."""
    v = vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    init = (
        v.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_lists)
        .collect()
    )
    cents = [list(r[vec_col]) for r in init]
    # a corpus smaller than n_lists yields fewer init centroids; clamp so the
    # Lloyd update's empty-list fallback (cents[i]) cannot index past them
    n_lists = min(n_lists, len(cents))
    for _ in range(iters):
        assigned = v.withColumn("list_id", _argmax_cosine(F.col(vec_col), cents))
        means = (
            assigned.select("list_id", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in means:
            by_list.setdefault(r["list_id"], {})[r["pos"]] = r["m"]
        cents = [
            [d[p] for p in sorted(d)] if (d := by_list.get(i)) else cents[i]
            for i in range(n_lists)
        ]
    return v.withColumn("list_id", _argmax_cosine(F.col(vec_col), cents)), cents


def ivf_index_scalable(
    vectors: DataFrame,
    n_lists: int = 256,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF k-means with the Lloyd UPDATE step kept in Spark — the large-
    n_lists·dim path (``ivf_index`` collects n_lists x dim mean rows to the
    driver per round, which becomes a driver bottleneck past ~10^6 cells).

    Centroids live as a (list_id, centroid array<double>) DataFrame for the
    whole training loop; the update re-assembles per-list mean vectors with
    posexplode -> avg -> collect_list(struct(pos, m)) sorted by pos, and
    each round's centroid table is eagerly localCheckpoint'ed (n_lists
    rows, distributed) to cut lineage.  Empty lists keep their previous
    centroid.  Assignment collects the round's centroid table (n_lists x
    dim doubles — 32 MB even at 4096 x 1024, the same table a broadcast
    would ship through the driver) and runs the ``ivf_assign_arrow`` matrix
    kernel; the id column passes through with its own type.

    Returns (vectors + list_id, centroids DataFrame).  Query-time probe
    selection still needs the centroids once driver-side —
    ``cdf.collect()`` — which is O(n_lists * dim) independent of data size.
    """
    from pyspark.sql import Window

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )

    def _assign(cdf_: DataFrame) -> DataFrame:
        cents = [list(r["centroid"]) for r in cdf_.orderBy("list_id").collect()]
        return ivf_assign_arrow(v, cents, id_col, vec_col)

    w = Window.orderBy("_h", id_col)  # n_lists rows: 1-partition window is fine
    cdf = (
        v.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_lists)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("list_id"),
            F.col(vec_col).alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = _assign(cdf)
        means = (
            assigned.select("list_id", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
        )
        new_cdf = means.groupBy("list_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        cdf = (
            cdf.select("list_id", F.col("centroid").alias("_old"))
            .join(new_cdf, "list_id", "left")
            .select(
                "list_id",
                F.coalesce(F.col("centroid"), F.col("_old")).alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return _assign(cdf), cdf


def _probe_order(query: list[float], cents: list[list[float]]) -> list[int]:
    """List ids by descending centroid cosine to the query (ties to the
    lower id) — the probe priority shared by the in-memory and the
    partition-pruned IVF query paths."""

    def cos_py(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    return sorted(range(len(cents)), key=lambda i: (-cos_py(query, cents[i]), i))


def ivf_topk(
    indexed: DataFrame,
    cents: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k probing the ``n_probe`` nearest lists.
    ``n_probe = n_lists`` degenerates to exact brute force (the recall
    guarantee tests rely on)."""
    probes = _probe_order(query, cents)[: max(n_probe, 1)]
    return brute_force_topk(
        indexed.where(F.col("list_id").isin(probes)), query, k, id_col, vec_col
    )


def write_ivf_partitioned(
    indexed: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "error",
) -> None:
    """Persist an IVF-assigned table PARTITIONED BY list_id — the
    storage-pruning form of the IVF promise: each list's vectors live in
    their own files, so a query that probes ``n_probe`` of ``n_lists``
    lists reads ``n_probe/n_lists`` of the bytes and Spark's partition
    pruning (not a data filter) does the skipping.  At 10^9+ vectors this
    is THE reason to run IVF at all: assignment is computed once
    (``ivf_assign_arrow``), written once, and every query afterwards is a
    metadata-pruned scan of a few directories."""
    indexed.select(F.col(id_col), F.col(vec_col), F.col("list_id")).write.partitionBy(
        "list_id"
    ).mode(mode).parquet(path)


def ivf_topk_partitioned(
    spark,
    path: str,
    cents: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a ``write_ivf_partitioned`` table: the
    ``list_id IN (probes)`` predicate lands in the scan's PartitionFilters
    (asserted in tests), so non-probed lists' files are never opened.
    Rank-identical to ``ivf_topk`` on the same assignment."""
    probes = _probe_order(query, cents)[: max(n_probe, 1)]
    df = spark.read.parquet(path).where(F.col("list_id").isin(probes))
    return brute_force_topk(df, query, k, id_col, vec_col)


def cosine_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 12,
    band_bits: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    kernel: str = "sql",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-banded self-join + exact
    cosine verify.  Bands of the sign signature bucket the join so the
    self-join never goes quadratic ACROSS buckets; ``max_bucket_size``
    additionally bounds a single degenerate bucket (a flood of identical
    or near-identical embeddings shares every sign band) the same way the
    text-side LSH does — oversized buckets are salt-split into bounded
    sub-buckets re-linked by a chain of representatives, every emitted
    pair still exact-cosine verified, skip logged (see
    ``dedup._capped_bucket_pairs``).  None = exact (no cap).

    ``kernel``: "sql" (JVM fold per candidate pair, any id type) or "gram"
    (per-bucket BLAS Gram matrix, integral ids; see
    ``semantic_dedup_pairs``)."""
    _check_pair_kernel(kernel)
    if kernel == "sql":
        sigged, _ = add_lsh_signatures(vectors, dim, bits, seed, vec_col)
    else:
        # the kernel chosen for throughput gets the matrix signature twin
        # too (measured ~20x; same md5 planes, interchangeable except
        # measure-zero sign boundaries) — the per-bit fold would dominate
        # the very job the gram verify was selected to accelerate
        _require_integral_id(vectors, id_col, "cosine_pairs(kernel='gram')")
        sigged, _ = add_lsh_signatures_arrow(
            vectors, dim, bits, seed, vec_col, id_col=id_col
        )
    n_bands = math.ceil(bits / band_bits)
    mask = (1 << band_bits) - 1
    banded = sigged.select(
        F.col(id_col), F.col(vec_col), F.col("lsh_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("lsh_sig"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, vec_col, "bb.band", "bb.key")
    if kernel == "gram":
        # Gram verify per (band, key) bucket: vectors shuffle once per band
        # membership instead of once per candidate pair; duplicates across
        # bands carry identical cosines, so a distinct collapses them
        src = banded.select(
            F.col(id_col).cast("long").alias("_vid"),
            F.col(vec_col).cast("array<double>").alias("_vec"),
            "band",
            "key",
        )
        # dedupe on the PAIR: the same pair found in two different-shaped
        # band buckets can round the 6th digit differently (BLAS
        # accumulation order), and two such rows survive a plain distinct()
        return (
            _gram_bucket_pairs(src, ["band", "key"], threshold, max_bucket_size)
            .groupBy("id_a", "id_b")
            .agg(F.max("cosine").alias("cosine"))
        )
    if max_bucket_size is not None:
        from .dedup import _capped_bucket_pairs

        pairs = _capped_bucket_pairs(
            banded,
            ["band", "key"],
            id_col,
            max_bucket_size,
            sig_col=vec_col,
            label="CosineLSH",
        ).select(
            "id_a", "id_b", F.col("sig_a").alias("va"), F.col("sig_b").alias("vb")
        )
    else:
        pairs = bucket_all_pairs(
            banded, ["band", "key"], id_col, sig_col=vec_col, sig_as=("va", "vb")
        ).distinct()
    cos = F.round(
        cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")), 6
    )
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


# --- SemDeDup: cluster-scoped semantic dedup ----------------------------------


def semantic_dedup_pairs(
    indexed: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "list_id",
    max_cluster_size: int | None = None,
    kernel: str = "sql",
) -> DataFrame:
    """Within-cluster exact-cosine near-duplicate pairs over a CLUSTERED
    embedding table — the SemDeDup recipe (Abbas et al. 2023,
    arXiv:2303.09540): k-means partition the corpus, then verify pairwise
    cosine only inside each cluster.  This is the published scale path for
    embedding-level dedup: the quadratic term is bounded by cluster size
    (|corpus| / n_lists on average) instead of the corpus, and the
    self-join shuffles once on ``list_col``.  It is the semantic complement
    of ``cosine_pairs`` — LSH bands catch high-cosine twins cheaply; k-means
    clusters catch "same meaning, different wording" groups whose cosine
    sits below the band-collision operating point but inside one centroid's
    cell.

    ``indexed`` is the output of ``ivf_index`` / ``ivf_index_scalable`` /
    ``ivf_assign_arrow`` (id, embedding, list_id) — the SAME centroids and
    assignment serve ANN probing and dedup, so a pipeline pays for k-means
    once.  ``max_cluster_size`` bounds a degenerate cluster (an
    identical-embedding flood assigns to one centroid) exactly like the
    text-side LSH cap: oversized clusters salt-split into bounded
    sub-buckets re-linked by a verified representative chain, skip logged
    (``dedup._capped_bucket_pairs``).  None = exact within-cluster
    all-pairs.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6.

    ``kernel``:

    - "sql": the JVM fold per candidate pair — bit-reproducible against
      engine-independent SQL oracles, any id type.
    - "gram": per-cluster BLAS Gram matrices (``_gram_bucket_pairs``),
      integral ids.  The pair-row fold shuffles a copy of both vectors per
      candidate pair: measured at 200k x 64-dim vectors / 64 lists on
      local[16], cap 256 — 80 s SQL-fold verify against 7.3 s gram, and
      UNCAPPED gram runs the FULL exact within-cluster verify in 6.5 s
      (finding all 1968 planted pairs where the cap's salt-split recalls
      only the within-sub-bucket 137) — so with this kernel the cap is
      needed only to bound DEGENERATE clusters' output size, not for
      compute.  The cap's salt-split is by xxhash64(id), so it SEPARATES
      even exactly-identical vectors into different sub-buckets with
      probability (n_sub-1)/n_sub (measured at 1M vectors / cap 256: 633
      of 9936 planted pairs survive) — when a corpus may contain
      identical-embedding floods, collapse them FIRST with
      ``exact_embedding_groups``, then run the capped pass over
      representatives.  Cosines are numpy-accumulated (pairwise/SIMD
      order) and rounded to 6 — equal to the fold up to last-bit summation
      order.
    """
    _check_pair_kernel(kernel)
    if kernel == "gram":
        _require_integral_id(indexed, id_col, "semantic_dedup_pairs(kernel='gram')")
        src = indexed.select(
            F.col(id_col).cast("long").alias("_vid"),
            F.col(vec_col).cast("array<double>").alias("_vec"),
            F.col(list_col).alias("_list"),
        )
        return _gram_bucket_pairs(src, ["_list"], threshold, max_cluster_size)
    src = indexed.select(F.col(id_col), F.col(vec_col), F.col(list_col))
    if max_cluster_size is not None:
        from .dedup import _capped_bucket_pairs

        pairs = _capped_bucket_pairs(
            src,
            [list_col],
            id_col,
            max_cluster_size,
            sig_col=vec_col,
            label="SemDeDup",
        ).select(
            "id_a", "id_b", F.col("sig_a").alias("va"), F.col("sig_b").alias("vb")
        )
    else:
        pairs = bucket_all_pairs(
            src, [list_col], id_col, sig_col=vec_col, sig_as=("va", "vb")
        )
    cos = F.round(
        cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")), 6
    )
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    vectors: DataFrame,
    n_lists: int = 256,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    kernel: str = "gram",
) -> DataFrame:
    """End-to-end SemDeDup: train deterministic k-means in Spark
    (``ivf_index_scalable`` — Lloyd update in Spark), generate
    within-cluster pairs at ``threshold``, and resolve duplicate clusters
    to a canonical representative (smallest id, via the shared min-label
    connected-components pass).  Returns every input id with
    (list_id, component, is_canonical); ``.where("is_canonical")`` is the
    semantically deduplicated corpus."""
    from .dedup import resolve_duplicates

    _check_pair_kernel(kernel)
    if kernel == "gram":  # fail before training, not after it
        _require_integral_id(vectors, id_col, "semantic_dedup(kernel='gram')")
    indexed, _cents = ivf_index_scalable(
        vectors, n_lists=n_lists, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # three consumers (pairs job, resolve_duplicates, the final join) would
    # each replay the full-corpus assignment scan — cut the lineage once
    indexed = indexed.localCheckpoint(eager=False)
    pairs = semantic_dedup_pairs(
        indexed,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        max_cluster_size=max_cluster_size,
        kernel=kernel,
    )
    resolved = resolve_duplicates(
        indexed.select(id_col, "list_id"), pairs, id_col=id_col
    )
    return indexed.select(F.col(id_col), F.col("list_id")).join(
        resolved.select(F.col(id_col).alias("_rid"), "component", "is_canonical"),
        F.col(id_col) == F.col("_rid"),
    ).drop("_rid")


# --- Arrow matrix kernels: the measured 100 TB throughput path ----------------
#
# The JVM higher-order folds above (zip_with + aggregate per row) are exact
# and bit-reproducible against engine-independent SQL oracles, but they
# evaluate one multiply-add per expression-tree step — measured on local[16]
# at 200k x 64-dim vectors: 22.7 s to assign against 64 centroids, ~80 s to
# verify capped within-cluster pairs.  The kernels below do the same math as
# ONE numpy matrix multiply per Arrow batch or bucket (M @ C.T / Xn @ Xn.T),
# which is the design the north star sanctions ("vectorized Arrow UDFs,
# never per-row Python").  Summation order differs from the sequential fold
# (numpy uses pairwise/SIMD accumulation), so results can differ in the last
# float bit; oracle-checked entries therefore keep the fold path, and these
# kernels are the documented scale route (assignment ties and thresholds are
# identical in exact arithmetic).


def _batch_matrix(batch, vec_col: str):
    """(n, d) float64 matrix from a fixed-dim list column of one batch."""
    import numpy as np
    import pyarrow as pa  # noqa: F401  (kept local: executors import lazily)

    import pyarrow.compute as pc

    col = batch.column(vec_col)
    n = len(col)
    if n == 0:
        return None
    if col.null_count:
        raise ValueError(f"null {vec_col!r} rows: {col.null_count} in batch")
    lens = pc.list_value_length(col)
    lmin, lmax = pc.min_max(lens).values()
    if lmin != lmax:
        raise ValueError(
            f"ragged {vec_col!r} column: row dims {lmin.as_py()}..{lmax.as_py()}"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(n, lmax.as_py()).astype("float64", copy=False)


def ivf_assign_arrow(
    vectors: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-kernel argmax-cosine list assignment: one ``M @ C.T`` per batch
    against the broadcast centroid matrix, ties to the HIGHER list id
    (``_argmax_cosine``'s struct order, which the tests check it against).
    The one list-assignment kernel: ``ivf_index_scalable`` assigns through
    it every round.  Like ``add_lsh_signatures_arrow`` it is id-column
    agnostic: the id passes through the kernel under its own type (string,
    int, long alike), declared from the input schema."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(cents, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    k = C.shape[0]

    def kern(batches):
        for b in batches:
            M = _batch_matrix(b, vec_col)
            if M is None:
                continue
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            cos = Mn @ Cn.T
            lid = (k - 1) - cos[:, ::-1].argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), b.column(vec_col), pa.array(lid, type=pa.int32())],
                [id_col, vec_col, "list_id"],
            )

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    id_type = v.schema[id_col].dataType.simpleString()
    return v.mapInArrow(
        kern, f"{id_col} {id_type}, {vec_col} array<double>, list_id int"
    )


def add_lsh_signatures_arrow(
    vectors: DataFrame,
    dim: int,
    bits: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]]]:
    """Arrow-kernel twin of ``add_lsh_signatures``: all ``bits`` hyperplane
    dots per batch as one ``M @ P.T``; sign bits packed into the same int64
    signature.  Exactly the same planes (md5-derived), so signatures are
    interchangeable with the fold path except on exact-zero dot boundaries
    (measure-zero for real embeddings).  Like the fold twin it is id-column
    agnostic and carries every input column through the kernel."""
    import numpy as np
    import pyarrow as pa

    planes = [_hyperplane(seed, b, dim) for b in range(bits)]
    P = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(bits, dtype=np.int64))

    v = vectors.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    in_cols = v.columns
    if id_col not in in_cols:
        raise ValueError(f"id column {id_col!r} not in input: {in_cols}")

    def kern(batches):
        for b in batches:
            M = _batch_matrix(b, vec_col)
            if M is None:
                continue
            sig = ((M @ P.T) >= 0.0) @ weights
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in in_cols]
                + [pa.array(sig.astype(np.int64), type=pa.int64())],
                in_cols + ["lsh_sig"],
            )

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in v.schema.fields
    )
    out = v.mapInArrow(kern, f"{schema}, lsh_sig long")
    return out, planes


def _gram_bucket_pairs(
    src: DataFrame,
    key_cols: list[str],
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared Gram-matrix verify: ``src`` carries ``_vid`` (id), ``_vec``
    (array<double>) and the bucket ``key_cols``; emits verified
    (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6.

    Each vector crosses the shuffle ONCE per bucket membership (groupBy +
    applyInPandas) and the m^2 cosines run as one row-blocked BLAS
    ``Xn @ Xn.T`` per bucket — the pair-row alternatives move a copy of
    both vectors PER CANDIDATE PAIR, i.e. O(m^2) payload.  Oversized
    buckets (over ``max_bucket_size``) salt-split into bounded sub-buckets
    (xxhash64(id), the ``dedup._capped_bucket_pairs`` rule) re-linked by a
    chain of verified min-id representatives."""
    import numpy as np
    import pandas as pd

    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError("max_bucket_size must be >= 2")
        sizes = src.groupBy(*key_cols).agg(F.count("*").alias("_m"))
        report = (
            sizes.where(F.col("_m") > max_bucket_size)
            .agg(F.count(F.lit(1)).alias("buckets"), F.max("_m").alias("largest"))
            .first()
        )
        if not report["buckets"]:
            # healthy path: every bucket within the cap — the plain grouped
            # gram plan, no sizes join, no salt, no representative chain
            max_bucket_size = None
        else:
            # no-silent-caps convention (dedup._capped_bucket_pairs): the
            # split costs cross-sub-bucket recall, so it is always logged
            _log.warning(
                "Gram cap: %d bucket(s) over max_bucket_size=%d (largest=%d) "
                "salt-split into sub-buckets (all pairs within each "
                "sub-bucket + a verified chain of sub-bucket representatives)",
                report["buckets"],
                max_bucket_size,
                report["largest"],
            )
            # the split path consumes src four times (sizes join, gram
            # input, representative agg, chain vector lookups) — pay the
            # upstream banding/assignment lineage once
            src = src.localCheckpoint(eager=True)
            sizes = src.groupBy(*key_cols).agg(F.count("*").alias("_m"))
            src = (
                src.join(sizes, key_cols)
                .withColumn(
                    "_nsub",
                    F.greatest(
                        F.lit(1), F.ceil(F.col("_m") / F.lit(max_bucket_size))
                    ).cast("long"),
                )
                .withColumn(
                    "_salt", F.pmod(F.xxhash64(F.col("_vid")), F.col("_nsub"))
                )
                .drop("_m", "_nsub")
            )
    if max_bucket_size is None:
        src = src.withColumn("_salt", F.lit(0).cast("long"))

    out_schema = "id_a long, id_b long, cosine double"

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf["_vid"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf["_vec"].to_numpy()[order]).astype(np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        # row-blocked upper-triangle scan: block x m score cells at a time
        block = max(1, 4_000_000 // m)
        ia, ib, cs = [], [], []
        for lo in range(0, m - 1, block):
            hi = min(lo + block, m - 1)
            G = np.round(Xn[lo:hi] @ Xn.T, 6)
            r, c = np.nonzero(G >= threshold)
            keep = c > (r + lo)  # strict upper triangle in global coords
            ia.append(ids[r[keep] + lo])
            ib.append(ids[c[keep]])
            cs.append(G[r[keep], c[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(ia) if ia else np.array([], dtype=np.int64),
                "id_b": np.concatenate(ib) if ib else np.array([], dtype=np.int64),
                "cosine": np.concatenate(cs) if cs else np.array([], dtype=np.float64),
            }
        )

    pairs = src.groupBy(*key_cols, "_salt").applyInPandas(gram, out_schema)
    if max_bucket_size is None:
        return pairs

    # chain of verified representatives re-links the salt-split: min-id
    # member of each sub-bucket, consecutive by salt within the bucket
    from pyspark.sql import Window

    reps = src.groupBy(*key_cols, "_salt").agg(F.min("_vid").alias("_rid"))
    w = Window.partitionBy(*key_cols).orderBy("_salt")
    link = (
        reps.withColumn("_rid2", F.lead("_rid").over(w))
        .where(F.col("_rid2").isNotNull())
        .select("_rid", "_rid2")
    )
    va = src.select(F.col("_vid").alias("_rid"), F.col("_vec").alias("_va")).distinct()
    vb = src.select(F.col("_vid").alias("_rid2"), F.col("_vec").alias("_vb")).distinct()
    chain = (
        link.join(va, "_rid")
        .join(vb, "_rid2")
        .select(
            F.least("_rid", "_rid2").alias("id_a"),
            F.greatest("_rid", "_rid2").alias("id_b"),
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    # dedupe on the PAIR, not the full row: the numpy gram path and the SQL
    # fold chain path can emit the same (id_a, id_b) with a last-digit
    # difference after round(.., 6) (summation order), which would survive a
    # plain distinct() as two rows
    return (
        pairs.unionByName(chain)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def exact_embedding_groups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Collapse exactly-identical embeddings: every row gets the group's
    smallest id as ``component`` and ``is_canonical`` — the embedding analog
    of exact text dedup, and the documented FIRST step before a capped
    near-dup pass (identical-vector floods would otherwise be split across
    sub-buckets by the cap's id-salt, costing recall; collapsed to one
    representative they cost nothing).  One shuffle on the vector value
    (window min), no join, no verification needed — equality is exact.

    NULL embeddings are NOT a duplicate group: absent content is not
    comparable (the same rule as NULL-text in ``dedup_exact`` — a window
    PARTITION BY groups NULLs together, which would silently collapse every
    embedding-less row into one "duplicate" cluster).  Each NULL row passes
    through as its own canonical component."""
    from pyspark.sql import Window

    w = Window.partitionBy(vec_col)
    return (
        vectors.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
        )
        .select(
            F.col(id_col),
            F.when(F.col(vec_col).isNull(), F.col(id_col))
            .otherwise(F.min(id_col).over(w))
            .alias("component"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )


def brute_force_topk_many(
    vectors: DataFrame,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in ONE corpus scan.

    ``brute_force_topk`` is one scan per query; scoring Q queries that way
    reads the corpus Q times.  Here the query matrix rides into every Arrow
    batch (broadcast with the kernel closure), cosines compute as one
    ``Mn @ Qn.T`` per batch, each batch emits its LOCAL top-k per query
    under the final total order (rounded score desc, id asc — so pruning
    can never change the global answer), and a single tiny shuffle of
    n_batches x Q x k candidate rows picks the global top-k per query.

    Returns (query_id, vec_id, score), the same rows as per-query
    ``brute_force_topk`` (parity-tested), score rounded to 6.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    if k < 1:
        raise ValueError("k must be >= 1")
    if not queries:
        raise ValueError("queries must be non-empty")
    qids = [q[0] for q in queries]
    Q = np.asarray([q[1] for q in queries], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    def kern(batches):
        for b in batches:
            M = _batch_matrix(b, vec_col)
            if M is None:
                continue
            id_arr = b.column(id_col)
            ids = id_arr.to_numpy(zero_copy_only=False)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            raw = Mn @ Qn.T
            # HALF_UP (away from zero), matching Spark's F.round in
            # brute_force_topk — np.round is HALF_EVEN and the two "exact"
            # paths could emit different scores at a .xxxxx5 boundary and
            # swap ranks at the k cut
            cos = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            out_q, out_i, out_s = [], [], []
            for j in range(len(qids)):
                top = np.lexsort((ids, -cos[:, j]))[:k]
                out_q.extend([j] * len(top))
                out_i.append(top)
                out_s.append(cos[top, j])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(out_q, dtype=np.int32), type=pa.int32()),
                    id_arr.take(pa.array(np.concatenate(out_i))),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                ["_qidx", id_col, "score"],
            )

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    id_type = v.schema[id_col].dataType.simpleString()
    cand = v.mapInArrow(kern, f"_qidx int, {id_col} {id_type}, score double")
    from pyspark.sql import Window

    qid_map = F.array(*[F.lit(q) for q in qids])
    w = Window.partitionBy("_qidx").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.element_at(qid_map, F.col("_qidx") + 1).alias("query_id"),
            F.col(id_col),
            "score",
        )
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact top-k —
    the tuning loop for LSH bits / IVF n_probe: run
    ``brute_force_topk_many`` (exact, one corpus scan) and the candidate
    ANN config over the same sampled query set, then compare.

    Both inputs are (query_col, id_col, ...) result frames.  Returns
    (query_col, hits, k, recall) where k is the exact list's size for
    that query and hits the overlap — two small aggregations over
    result-sized frames (n_queries x k rows), nothing touches the corpus.
    Queries absent from ``approx`` report recall 0.
    """
    e = exact.select(query_col, id_col)
    a = approx.select(query_col, id_col).distinct()
    per_k = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("k"))
    hits = (
        e.join(a, [query_col, id_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return per_k.join(hits, query_col, "left").select(
        F.col(query_col),
        F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        F.col("k"),
        (F.coalesce(F.col("hits"), F.lit(0)) / F.col("k")).alias("recall"),
    )


def knn_classify(
    unlabeled: DataFrame,
    labeled: list[tuple[int, int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """kNN label propagation over embeddings: predict each unlabeled
    vector's label as the majority among its ``k`` nearest labeled
    neighbors by cosine — the weak-labeling / seed-expansion pass a
    training-data pipeline uses to grow a small hand-labeled set into
    corpus-scale labels (quality tiers, topics, safety classes).

    ``labeled`` is the SEED set, ``(neighbor_id, label, vector)`` triples,
    collected driver-side by the caller: seed sets are small by
    construction (the thing being amplified), so the labeled matrix rides
    into every Arrow batch with the kernel closure and the whole pass is
    ONE corpus scan with ZERO shuffles — each unlabeled vector's k
    neighbors, vote counts, and winner all resolve inside its own batch
    (one ``Mn @ Cn.T`` per batch).  Practical bound: |labeled| x dim
    doubles must fit an executor comfortably (~10^5 x 1024 = 0.8 GB,
    ``KNN_CLOSURE_MAX_CELLS``); past that use ``knn_classify_ivf`` (the
    IVF-probed candidate route, labeled set never driver-materialized) or
    ``knn_classify_auto`` (dispatches on the ceiling).

    Determinism contract (the DuckDB-oracle-replicable part): cosines
    round to 6 places; neighbor selection ties break by ascending
    neighbor id; the vote ties break by ascending label.

    Returns (``id_col``, ``pred_label`` long, ``votes`` int) —
    ``votes`` = the winning label's count among the k neighbors.  Ids of
    either side may be any orderable type; the unlabeled id passes through
    the kernel under its own type.  Labels must be integral in every kNN
    route: a non-integral label raises ``ValueError`` before any job runs.
    """
    import numpy as np
    import pyarrow as pa

    if k < 1:
        raise ValueError("k must be >= 1")
    if not labeled:
        raise ValueError("labeled seed set must be non-empty")
    for t in labeled:
        if not isinstance(t[1], numbers.Integral):
            raise ValueError(
                f"knn_classify: seed label {t[1]!r} (second tuple field) "
                f"must be an integral type (got {type(t[1]).__name__}); "
                "map labels to int64 first"
            )
    trip = sorted(labeled)  # neighbor-id ascending: stable argsort = id tie-break
    C = np.asarray([t[2] for t in trip], dtype=np.float64)
    labs = np.asarray([t[1] for t in trip], dtype=np.int64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    # vote columns ordered by ascending label so argmax's first-max = min label
    uniq = np.unique(labs)
    onehot = (labs[None, :] == uniq[:, None]).astype(np.int32)  # (n_uniq, m)
    kk = min(k, len(trip))

    def kern(batches):
        for b in batches:
            M = _batch_matrix(b, vec_col)
            if M is None:
                continue
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            cos = np.round(Mn @ Cn.T, 6)
            nb = np.argsort(-cos, axis=1, kind="stable")[:, :kk]  # (n, kk)
            votes = np.zeros((len(M), len(uniq)), dtype=np.int32)
            for j in range(kk):  # kk iterations, each fully vectorized over rows
                votes += onehot[:, nb[:, j]].T
            win = votes.argmax(axis=1)  # first max = smallest label
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    pa.array(uniq[win], type=pa.int64()),
                    pa.array(votes[np.arange(len(M)), win], type=pa.int32()),
                ],
                [id_col, "pred_label", "votes"],
            )

    v = unlabeled.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    id_type = v.schema[id_col].dataType.simpleString()
    return v.mapInArrow(kern, f"{id_col} {id_type}, pred_label long, votes int")


# The knn_classify closure-kernel ceiling: |labeled| x dim float64 cells
# that can comfortably ride into every Arrow batch (~0.8 GB).  Past it,
# knn_classify_auto routes through IVF probing (knn_classify_ivf).
KNN_CLOSURE_MAX_CELLS = 100_000 * 1024


def knn_classify_ivf(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    n_lists: int = 64,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label propagation for seed sets PAST the ``knn_classify``
    closure ceiling: the labeled set stays a DataFrame (never driver-
    materialized), gets IVF-partitioned once, and each unlabeled vector
    votes among its k nearest labeled neighbors WITHIN its ``n_probe``
    nearest lists — candidate volume drops from |unlabeled| x |labeled|
    to ~|unlabeled| x |labeled| x n_probe/n_lists, all of it an equi-join
    on list_id (shuffle-partitioned, no driver bottleneck).

    ``n_probe = n_lists`` degenerates to EXACT brute force with the same
    determinism contract as ``knn_classify`` (cosine rounded to 6,
    neighbor ties by ascending id, vote ties by ascending label) — the
    equivalence tests rely on it; partial probes are approximate exactly
    like ``ivf_topk`` vs ``brute_force_topk``.

    Returns (``id_col``, pred_label long, votes int), ONE row per input
    vector; both id columns pass through under their own types.  Under a partial probe, a vector whose probed lists hold
    no labeled rows keeps its row with pred_label/votes NULL (never a
    silently missing row); full probes always label every row."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    _require_integral_labels(labeled, label_col, "knn_classify_ivf")
    lab = labeled.select(
        F.col(id_col).alias("_nid"),
        F.col(label_col).cast("long").alias("_lab"),
        F.col(vec_col).cast("array<double>").alias("_nvec"),
    )
    if lab.first() is None:
        raise ValueError("labeled seed set must be non-empty")
    # one pass of the scalable trainer over the seeds; centroids are the
    # only driver-side materialization (n_lists x dim, data-size free)
    indexed, cdf = ivf_index_scalable(
        lab, n_lists=n_lists, iters=1, id_col="_nid", vec_col="_nvec"
    )
    # the trainer projects to (id, vec, list_id); rejoin the labels
    indexed = indexed.join(lab.select("_nid", "_lab"), "_nid")
    cents = [list(r["centroid"]) for r in cdf.orderBy("list_id").collect()]
    n_probe = max(1, min(n_probe, len(cents)))

    # per-query probe lists: top n_probe centroid cosines (ties to the
    # LOWER list id, _probe_order's rule), one M @ C.T per Arrow batch,
    # emitted as n_probe rows per query
    C = np.asarray(cents, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    npr = n_probe

    def probes_kern(batches):
        for b in batches:
            M = _batch_matrix(b, vec_col)
            if M is None:
                continue
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            cos = Mn @ Cn.T
            order = np.argsort(-cos, axis=1, kind="stable")[:, :npr]
            rep = pa.array(np.repeat(np.arange(len(M)), npr), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col).take(rep),
                    b.column(vec_col).take(rep),
                    pa.array(order.ravel(), type=pa.int32()),
                ],
                [id_col, vec_col, "list_id"],
            )

    u = unlabeled.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    id_type = u.schema[id_col].dataType.simpleString()
    nid_type = lab.schema["_nid"].dataType.simpleString()
    probes = u.mapInArrow(
        probes_kern, f"{id_col} {id_type}, {vec_col} array<double>, list_id int"
    )

    cand = probes.join(indexed.select("_nid", "_lab", "_nvec", "list_id"), "list_id")

    # Pair cosines through the same numpy CONTRACTS as the closure kernel
    # (normalize both sides, dot, np.round to 6, identical tie rules) —
    # Spark's F.round is HALF_UP while np.round is HALF_EVEN, so the SQL
    # fold is not a substitute here.  Caveat on "bit-identical": the
    # closure kernel accumulates via BLAS matmul (Mn @ Sn.T) while this
    # per-pair path uses einsum dots; the accumulation orders can differ
    # at ulp scale, so a cosine within 1 ulp of a .xxxxx5 rounding
    # boundary could round differently.  Full-probe equivalence is
    # asserted by test on the fixture corpora; adversarially constructed
    # boundary values are outside the contract.
    def cos_kern(batches):
        for b in batches:
            Q = _batch_matrix(b, vec_col)
            if Q is None:
                continue
            Nv = _batch_matrix(b, "_nvec")
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
            Nn = Nv / np.maximum(np.linalg.norm(Nv, axis=1, keepdims=True), 1e-300)
            cos = np.round(np.einsum("ij,ij->i", Qn, Nn), 6)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    b.column("_nid"),
                    b.column("_lab"),
                    pa.array(cos, type=pa.float64()),
                ],
                [id_col, "_nid", "_lab", "_cos"],
            )

    scored = cand.select(id_col, "_nid", "_lab", vec_col, "_nvec").mapInArrow(
        cos_kern, f"{id_col} {id_type}, _nid {nid_type}, _lab long, _cos double"
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), F.asc("_nid"))
    topk = scored.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    votes = topk.groupBy(id_col, "_lab").agg(F.count(F.lit(1)).alias("_n"))
    # winner = max votes, ties to the SMALLEST label: max_by over
    # (count, -label) struct ordering
    labeled_out = votes.groupBy(id_col).agg(
        F.expr("max_by(_lab, struct(_n, -_lab))").alias("pred_label"),
        F.max(F.struct(F.col("_n"), -F.col("_lab")))["_n"]
        .cast("int")
        .alias("votes"),
    )
    # ONE ROW PER INPUT VECTOR, like knn_classify: a partial probe can
    # leave an outlier whose n_probe nearest lists hold no labeled rows
    # (labels cluster into few lists; empty lists keep their init centroid
    # and stay probe-able) — the join above would silently drop it.  Such
    # rows come back with pred_label/votes NULL: the approximation is
    # surfaced, never a missing row.  Full probes (n_probe = n_lists) see
    # every labeled row as a candidate, so no NULLs — bit-identity with
    # the closure kernel is unaffected.
    return u.select(id_col).join(labeled_out, id_col, "left")


def knn_classify_auto(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
    **ivf_kwargs,
) -> DataFrame:
    """Dispatch between the closure kernel (seed matrix rides into every
    Arrow batch — one corpus scan, zero shuffles) and the IVF-probed route,
    by the documented ceiling ``KNN_CLOSURE_MAX_CELLS`` = |labeled| x dim.
    ``labeled`` is a DataFrame either way; below the ceiling it is
    collect()ed (small by definition of the ceiling).  Both routes emit one
    row per input vector (the IVF route with NULL pred_label for vectors a
    partial probe left without labeled candidates)."""
    _require_integral_labels(labeled, label_col, "knn_classify_auto")
    # n and dim in ONE action (labeled can be an expensive lineage — a
    # filtered/scored upstream frame — that a count + a first would run
    # twice before classification even starts)
    row = labeled.agg(
        F.count(F.lit(1)).alias("_n"),
        F.first(F.col(vec_col), ignorenulls=True).alias("_v"),
    ).first()
    n = int(row["_n"])
    if dim is None:
        dim = len(row["_v"]) if row["_v"] is not None else 0
    if n * max(dim, 1) <= KNN_CLOSURE_MAX_CELLS:
        trip = [
            (r[id_col], int(r[label_col]), list(r[vec_col]))
            for r in labeled.select(id_col, label_col, vec_col).collect()
        ]
        return knn_classify(unlabeled, trip, k, id_col, vec_col)
    return knn_classify_ivf(
        unlabeled, labeled, k, id_col=id_col, vec_col=vec_col,
        label_col=label_col, **ivf_kwargs,
    )
