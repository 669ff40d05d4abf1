"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's IR surface (SURVEY.md §2), a 100 TB corpus pipeline
needs dedup as a first-class operator family.  With the default
``kernel="sql"``, everything here is pure DataFrame algebra over JVM
built-ins (md5 / sort_array / explode / aggregations) — no Python in the hot
path — and every hash is derived from ``md5`` so a DuckDB oracle can
reproduce results bit-for-bit (``__spark_entry__.oracle_sql``).  The opt-in
``kernel="arrow"`` MinHash runs a numpy kernel in the Python workers; its
signatures depend on pandas' ``hash_array`` (not md5), so no oracle
reproduces them and nothing here persists them: they live only inside one
run, feeding banding and verification.

Scale notes (1000 executors, 10^10 docs):
- exact dedup: one shuffle on the content hash; map-side combine makes the
  reduce side proportional to distinct docs.
- MinHash+LSH: shingle explode is the big intermediate (docs x shingles);
  signatures aggregate with map-side combine per doc (no skew: key = doc).
  The band join keys on (band_id, band_hash) — collisions are rare by
  construction, so groups stay tiny even at 10^10 docs; candidate
  verification joins only within buckets (the classic LSH cost shape).
- SimHash: same explode, then one per-doc aggregation; hamming-style
  bucketing via prefix keys.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


# --- exact dedup -----------------------------------------------------------

def content_hash(text_col: Column) -> Column:
    """Canonical content fingerprint (md5 of the raw text)."""
    return F.md5(text_col)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (hash, dup_count, doc_ids).

    NULL-text documents (media-only / failed extraction) are NOT a
    duplicate group: absent content is not comparable content — ``curate``
    gates them individually, ``dedup_exact`` keeps them all, and the
    streaming dedup passes them through.  One shared semantic."""
    return (
        docs.select(F.col(id_col), content_hash(F.col(text_col)).alias("hash"))
        .where(F.col("hash").isNotNull())
        .groupBy("hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative of each identical-content group.

    NULL-text documents all pass through: their content hash is NULL, and
    the old equi-join dropped EVERY one of them (no representative kept) —
    while ``exact_duplicates`` reported them as a dup group.  The shared
    semantic is now "absent content is not comparable content"."""
    ranked = docs.withColumn("hash", content_hash(F.col(text_col)))
    hashed = ranked.where(F.col("hash").isNotNull())
    keeper = hashed.groupBy("hash").agg(F.min(id_col).alias(id_col))
    kept = hashed.join(keeper, [id_col, "hash"], "left_semi")
    return kept.unionByName(ranked.where(F.col("hash").isNull())).drop("hash")


def conversation_texts(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """(conv_id, text): a conversation's turns concatenated in turn order —
    the scope change that turns every document-level dedup/fingerprint op
    into a CONVERSATION-level one (re-posted transcripts, template
    conversations, agent-loop spam share whole-conversation content that
    per-turn dedup can't see).  One aggregation: collect (turn_idx, text)
    structs, array_sort (struct order = field order, so turn_idx leads),
    join texts.  Compose: ``dedup_exact(conversation_texts(t), id_col=
    conv_col)``, ``minhash_near_duplicates(conversation_texts(t), ...)``."""
    struct = F.struct(F.col(idx_col).alias("i"), F.col(text_col).alias("t"))
    return turns.groupBy(conv_col).agg(
        F.concat_ws(
            " ",
            F.transform(F.array_sort(F.collect_list(struct)), lambda s: s["t"]),
        ).alias(text_col)
    )


# --- shingles ---------------------------------------------------------------

def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of whitespace-token runs (distinct)."""
    toks = F.split(F.trim(text_col), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    kernel: str = "sql",
) -> DataFrame:
    """Per-doc MinHash signature.

    ``kernel="sql"`` (default): sig[i] = min over shingles of
    md5(i || shingle).  md5-based so DuckDB reproduces it exactly; a string
    min is a valid random-permutation surrogate.

    ``kernel="arrow"``: the bulk-throughput twin
    (``minhash_signatures_arrow``) — one mapInArrow pass, no explode and NO
    SHUFFLE (the sql path ships docs x shingles rows through the groupBy
    exchange), int64 signatures from a multiply-xor permutation family.
    A different (equally valid) hash family, so signatures are NOT
    interchangeable with the sql path — downstream banding/verification is
    family-agnostic and the verified near-dup pair set matches."""
    if kernel == "arrow":
        return minhash_signatures_arrow(
            docs, id_col, text_col, num_hashes, shingle_n
        )
    if kernel != "sql":
        raise ValueError(f"unknown minhash kernel {kernel!r}: sql | arrow")
    sh = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _minhash_perm_constants(num_hashes: int):
    """Deterministic (multiplier, xor) pairs for the arrow kernel's
    permutation family, derived from md5 so no RNG state is involved.
    Multipliers are forced odd (odd multipliers are bijections mod 2^64)."""
    import hashlib

    import numpy as np

    mults = np.empty(num_hashes, dtype=np.uint64)
    xors = np.empty(num_hashes, dtype=np.uint64)
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-perm-{i}".encode()).digest()
        mults[i] = np.uint64(int.from_bytes(d[:8], "big") | 1)
        xors[i] = np.uint64(int.from_bytes(d[8:], "big"))
    return mults, xors


def minhash_signatures_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Arrow-kernel MinHash: per-doc signatures in ONE map pass.

    The sql path explodes to docs x shingles rows and shuffles them into 16
    md5-string min-aggregations — at 10M docs the md5-of-string aggs
    dominate the whole dedup leg.  Here each task, per Arrow batch:
    tokenizes with pandas' C splitter, hashes every TOKEN once with
    pandas' vectorized siphash, combines each n-token window into a shingle
    hash by a wraparound polynomial (order-sensitive, never materializing
    shingle strings), applies the ``num_hashes`` multiply-xor permutations
    in numpy, and takes per-doc minima with ``minimum.reduceat``.  Zero
    shuffles, zero per-row Python.

    Shingle semantics mirror ``shingles()``: whitespace-run tokens; docs
    shorter than ``shingle_n`` tokens contribute the whole token run as one
    shingle (empty text included).  Duplicate shingles need no dedup — the
    min is multiset-invariant.  Signatures are int64 columns h0..h{n-1};
    ``lsh_candidate_pairs`` bands them unchanged (concat_ws casts)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    mults, xors = _minhash_perm_constants(num_hashes)
    POLY = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio mixing constant
    names = [id_col] + [f"h{i}" for i in range(num_hashes)]

    def kern(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            texts = b.column(text_col).to_pandas().astype(object)
            toks = texts.fillna("").str.split()
            counts = np.fromiter((len(t) for t in toks), dtype=np.int64,
                                 count=len(toks))
            flat = np.empty(int(counts.sum()), dtype=object)
            pos = 0
            for t in toks:
                flat[pos : pos + len(t)] = t
                pos += len(t)
            tok_h = (
                pd.util.hash_array(flat).astype(np.uint64)
                if len(flat)
                else np.empty(0, dtype=np.uint64)
            )
            ends = np.cumsum(counts)
            starts = ends - counts
            n = shingle_n
            # docs with >= n tokens: polynomial over each n-token window of
            # the FLAT hash array (windows crossing a doc boundary are
            # masked out).  docs with < n tokens (incl. empty text): one
            # shingle = polynomial over the doc's whole token run (0 for
            # the empty run) — mirrors shingles()'s whole-text fallback.
            long_doc = counts >= n
            n_grams = np.where(long_doc, counts - n + 1, 1)
            gram_ends = np.cumsum(n_grams)
            gram_starts = gram_ends - n_grams
            grams = np.zeros(int(n_grams.sum()), dtype=np.uint64)
            if long_doc.any():
                n_win = len(flat) - n + 1
                win = tok_h[:n_win].copy()
                for j in range(1, n):
                    win *= POLY
                    win += tok_h[j : j + n_win]
                doc_of_pos = np.repeat(np.arange(len(counts)), counts)
                off_in_doc = np.arange(len(flat)) - np.repeat(starts, counts)
                valid = (
                    long_doc[doc_of_pos]
                    & (off_in_doc <= counts[doc_of_pos] - n)
                )
                gram_doc = np.repeat(np.arange(len(counts)), n_grams)
                # every valid start is < n_win (a fitting window cannot
                # begin in the last n-1 flat positions), so the mask
                # truncates losslessly to the window array's length
                grams[long_doc[gram_doc]] = win[valid[:n_win]]
            # scalar uint64 math warns on the (intended) mod-2^64 wrap
            with np.errstate(over="ignore"):
                for d in np.nonzero(~long_doc)[0]:
                    h = np.uint64(0)
                    for j in range(starts[d], ends[d]):
                        h = h * POLY + tok_h[j]
                    grams[gram_starts[d]] = h
            arrays = [b.column(id_col)]
            for i in range(num_hashes):
                perm = (grams * mults[i]) ^ xors[i]
                sig = np.minimum.reduceat(perm, gram_starts)
                arrays.append(pa.array(sig.astype(np.int64), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    id_type = docs.schema[id_col].dataType.simpleString()
    sig_cols = ", ".join(f"h{i} long" for i in range(num_hashes))
    return docs.select(id_col, text_col).mapInArrow(
        kern, f"{id_col} {id_type}, {sig_cols}"
    )


def bucket_all_pairs(
    src: DataFrame,
    key_cols: list[str],
    id_col: str,
    sig_col: str | None = None,
    sig_as: tuple[str, str] = ("sig_a", "sig_b"),
) -> DataFrame:
    """All ``(id_a < id_b)`` pairs within each bucket (rows equal on every
    ``key_cols`` column), optionally carrying a per-side payload column
    (``sig_col`` aliased to ``sig_as``).  THE within-bucket self-join — the
    MinHash/SimHash band joins, the embedding LSH/IVF verify stages, and the
    capped-bucket splitter all build on this one definition, so a tie-break
    or null-key change cannot silently miss a path."""
    a, b = src.alias("a"), src.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in key_cols:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ]
    if sig_col:
        cols += [
            F.col(f"a.{sig_col}").alias(sig_as[0]),
            F.col(f"b.{sig_col}").alias(sig_as[1]),
        ]
    return a.join(b, cond).select(*cols)


def _capped_bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket_size: int,
    sig_col: str | None = None,
    label: str = "LSH",
) -> DataFrame:
    """Bounded within-bucket pair generation (shared by the MinHash and
    SimHash band joins).

    Buckets at or under ``max_bucket_size`` generate ALL pairs.  OVERSIZED
    buckets are salt-split into ceil(m / max_bucket_size) sub-buckets by
    ``xxhash64(id)``: all pairs within each sub-bucket (~m * max/2 pairs,
    bounded, every one individually verified downstream) plus a CHAIN of
    verified pairs between consecutive sub-bucket representatives (min-id
    member, ordered by sub-bucket index) to re-link the split.  A flood of
    true near-duplicates therefore still collapses into one cluster (every
    chain link verifies); a CHANCE mega-bucket of unrelated docs loses only
    cross-sub-bucket recall — which pure all-pairs would have spent O(m^2)
    verifications to reject anyway.  No connectivity claim is made for
    pairs the verifier rejects.

    The cap is never silent: oversized-bucket count / largest size /
    estimated skipped cross-sub candidates are logged.  Routing needs the
    bucket sizes up front, so ONE aggregation job runs at construction; on
    the common healthy path (no bucket over the cap) that is the only
    extra cost — the plain all-pairs plan is returned with no
    materialization.  Only when a cap actually trips is ``banded``
    localCheckpoint'ed, so the split path pays the signature+banding
    pipeline exactly once across the sizes join and both self-join sides
    (and, for embedding callers, the per-band vector duplication is only
    ever stored in the degenerate case it protects against)."""
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 (pairs need 2 docs)")

    def _pairs(src: DataFrame, keys: list[str]) -> DataFrame:
        return bucket_all_pairs(src, keys, id_col, sig_col)

    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    m = F.col("n").cast("double")
    nsub_d = F.ceil(F.col("n") / F.lit(max_bucket_size)).cast("double")
    report = (
        sizes.where(F.col("n") > max_bucket_size)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.max("n").alias("largest"),
            F.sum(
                m * (m - 1) / 2
                - (nsub_d * (m / nsub_d) * (m / nsub_d - 1) / 2 + (nsub_d - 1))
            ).alias("pairs_skipped"),
        )
        .first()
    )
    if not report["buckets"]:
        # healthy path: every bucket within the cap — identical to the
        # uncapped all-pairs plan (small = everything, big = empty)
        return _pairs(banded, key_cols).distinct()
    banded = banded.localCheckpoint(eager=True)
    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    # (the no-oversized-buckets path returned above, so the cap log always
    # fires here — no-silent-caps convention)
    _log.warning(
        "%s cap: %d bucket(s) over max_bucket_size=%d (largest=%d) "
        "salt-split into sub-buckets (all pairs within each sub-bucket "
        "+ a verified chain of sub-bucket representatives); ~%d "
        "cross-sub-bucket pairwise candidates skipped",
        label,
        report["buckets"],
        max_bucket_size,
        report["largest"],
        int(report["pairs_skipped"] or 0),
    )
    tagged = banded.join(sizes, key_cols)
    small = tagged.where(F.col("n") <= max_bucket_size).drop("n")
    big = (
        tagged.where(F.col("n") > max_bucket_size)
        .withColumn(
            "sub",
            F.pmod(
                F.xxhash64(F.col(id_col)),
                F.ceil(F.col("n") / F.lit(max_bucket_size)),
            ),
        )
        .drop("n")
    )

    rep_aggs = [F.min(id_col).alias("rep")]
    if sig_col:
        rep_aggs.append(F.min_by(sig_col, F.col(id_col)).alias("rep_sig"))
    reps = big.groupBy(*key_cols, "sub").agg(*rep_aggs)
    # few reps per bucket (m / max_bucket_size) -> the window is small
    w = Window.partitionBy(*key_cols).orderBy("sub")
    lag_cols = [F.lag("rep").over(w).alias("prev"), F.col("rep")]
    if sig_col:
        lag_cols += [F.lag("rep_sig").over(w).alias("prev_sig"), F.col("rep_sig")]
    chain = reps.select(*key_cols, *lag_cols).where(F.col("prev").isNotNull())
    lo_first = F.col("prev") < F.col("rep")
    chain_cols = [
        F.when(lo_first, F.col("prev")).otherwise(F.col("rep")).alias("id_a"),
        F.when(lo_first, F.col("rep")).otherwise(F.col("prev")).alias("id_b"),
    ]
    if sig_col:
        chain_cols += [
            F.when(lo_first, F.col("prev_sig")).otherwise(F.col("rep_sig")).alias("sig_a"),
            F.when(lo_first, F.col("rep_sig")).otherwise(F.col("prev_sig")).alias("sig_b"),
        ]
    chain_pairs = chain.select(*chain_cols)
    return (
        _pairs(small, key_cols)
        .unionByName(_pairs(big, key_cols + ["sub"]))
        .unionByName(chain_pairs)
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (bands x rows), bucket-join on band hash ->
    candidate pairs (a < b).  One shuffle on (band, band_hash).

    ``max_bucket_size`` bounds the within-bucket self-join, which is
    otherwise O(m^2) in bucket size m: a degenerate corpus (boilerplate docs
    sharing every band) can put millions of docs in ONE bucket and a single
    all-pairs bucket would dominate the whole job.  Oversized buckets are
    salt-split with a verified representative chain re-linking the splits —
    semantics, bounds, and the no-silent-caps log line in
    ``_capped_bucket_pairs``.  Defaults to None (no cap, exact behavior)."""
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make rows=0, so every band hash is
        # md5('') and ALL docs collide into one bucket (the O(N^2) blowup
        # max_bucket_size exists to prevent, triggered by config); a
        # non-divisible num_hashes would silently drop trailing hashes
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    rows = num_hashes // bands
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    if max_bucket_size is None:
        return bucket_all_pairs(banded, ["band", "bucket"], id_col).distinct()
    return _capped_bucket_pairs(
        banded, ["band", "bucket"], id_col, max_bucket_size, label="LSH"
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification stage)."""
    sh = docs.select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh"))
    a = sh.alias("sa")
    b = sh.alias("sb")
    joined = (
        pairs.join(a, pairs["id_a"] == F.col(f"sa.{id_col}"))
        .join(b, pairs["id_b"] == F.col(f"sb.{id_col}"))
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
    return joined.select(
        "id_a", "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    kernel: str = "sql",
) -> DataFrame:
    """Full MinHash->LSH->verify pipeline: near-dup pairs above threshold.
    ``max_bucket_size`` bounds degenerate LSH buckets (see
    ``lsh_candidate_pairs``); None = exact (no cap).  ``kernel`` selects the
    signature implementation (``minhash_signatures``); banding and the
    exact-Jaccard verification are hash-family-agnostic."""
    sigs = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_n, kernel=kernel
    )
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket_size)
    return jaccard_pairs(docs, cands, id_col, text_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs: candidates = pairs sharing at
    least one shingle (any pair above a positive threshold must share one),
    then exact verification.  Deterministic — the SQL-oracle-facing variant;
    the probabilistic-but-cheaper LSH variant is minhash_near_duplicates."""
    sh = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return jaccard_pairs(docs, cands, id_col, text_col, shingle_n).where(
        F.col("jaccard") >= threshold
    )


# --- duplicate-cluster resolution --------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-dup pairs -> (doc_id, component): component = smallest doc_id
    transitively reachable through the pair graph — the cluster-resolution
    step a real dedup pipeline needs after pair generation (pick one canonical
    doc per duplicate cluster, drop the rest).

    Min-label propagation: each round every vertex takes the min of its own
    label and its neighbors' labels; converges in O(cluster diameter) rounds.
    Near-dup clusters are shallow (a dup of a dup of X is usually also a
    direct dup of X), so a handful of rounds suffices; a pathological
    10^2-link chain still converges within ``max_iterations`` and anything
    deeper raises rather than returning partial clusters.  All data stays
    distributed — the driver coordinates only a changed-count per round, and
    each round's label table is eagerly localCheckpoint'ed to cut lineage.
    Scale shape: per round, one shuffle join (edges x labels, both keyed by
    id) + one min-aggregation — both AQE-skew-safe.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iterations):
            nbr = (
                edges.join(labels, edges["src"] == labels["id"])
                .groupBy("dst")
                .agg(F.min("comp").alias("nmin"))
            )
            joined = labels.join(nbr, labels["id"] == nbr["dst"], "left").select(
                "id",
                F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("ch"),
            ).localCheckpoint(eager=True)
            changed = joined.agg(
                F.sum(F.col("ch").cast("int")).alias("n")
            ).first()["n"]
            labels = joined.select("id", "comp")
            if not changed:
                return labels.select(
                    F.col("id").alias("doc_id"), F.col("comp").alias("component")
                )
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            "(pathologically deep duplicate chain); raise max_iterations"
        )
    finally:
        edges.unpersist()


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-doc selection over the whole corpus: every doc gets its
    duplicate-cluster ``component`` (its own id when it has no duplicates)
    and ``is_canonical`` (the cluster's smallest id survives — the
    deterministic keep-first policy).  ``docs.where(is_canonical)`` IS the
    deduplicated corpus."""
    comps = connected_components(pairs, id_a="id_a", id_b="id_b")
    out = docs.join(comps, docs[id_col] == comps["doc_id"], "left").select(
        docs[id_col],
        F.coalesce(F.col("component"), docs[id_col]).alias("component"),
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("component"))


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 64  # 64-bit: halves collision noise vs 32-bit at 10^10 docs

# MinHash preset guide (num_hashes=b*r, bands=b; LSH similarity threshold
# where collision probability hits 50% is s* ~= (1/b)^(1/r)):
#   fast:        16 hashes /  4 bands (r=4, s* ~ 0.71) — cheapest, misses
#                mid-similarity pairs; fine for near-exact dedup
#   balanced:    64 hashes / 16 bands (r=4, s* ~ 0.50) — the common corpus-
#                dedup operating point (catches s >= ~0.6 reliably)
#   high_recall: 128 hashes / 32 bands (r=4, s* ~ 0.42) — 8x the signature
#                cost of `fast`; for aggressive train-set decontamination
MINHASH_PRESETS: dict[str, dict[str, int]] = {
    "fast": {"num_hashes": 16, "bands": 4},
    "balanced": {"num_hashes": 64, "bands": 16},
    "high_recall": {"num_hashes": 128, "bands": 32},
}


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    The token hash is built from two 32-bit md5 halves (hex chars 1-8 ->
    bits 0..31, hex chars 9-16 -> bits 32..63) so DuckDB reproduces it
    exactly via ('0x'||substr(md5(t),...))::BIGINT — a single 16-hex-char
    conversion would overflow signed BIGINT on both engines.  Per-bit vote =
    sum of +-1; bit set iff the vote is positive.  Bit 63 is the sign bit
    (two's complement on both engines)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h_lo = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    h_hi = F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")

    def bit_of(b: int):
        src, sh = (h_lo, b) if b < 32 else (h_hi, b - 32)
        return F.shiftright(src, sh).bitwiseAND(F.lit(1)) == 1

    votes = toks.select(
        F.col(id_col),
        *[
            F.when(bit_of(b), 1).otherwise(-1).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    ).groupBy(id_col).agg(*[F.sum(f"b{b}").alias(f"b{b}") for b in range(SIMHASH_BITS)])
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of the 64/band_bits bit-bands
    (a pair within hamming distance < #bands shares at least one exact band),
    verify hamming distance exactly.

    The band guarantee requires ``max_hamming < 64 // band_bits``: with h
    differing bits and only h bands, every band can absorb one flipped bit
    and a TRUE pair would silently never become a candidate — raises rather
    than losing recall quietly (lower ``band_bits`` to widen the band count).

    ``max_bucket_size`` bounds the within-bucket self-join exactly like
    ``lsh_candidate_pairs``: oversized key buckets (boilerplate corpora
    hashing to one SimHash) are salt-split with a verified representative
    chain (see ``_capped_bucket_pairs``); skipped cross-sub-bucket
    candidates are logged.  None = exact (no cap)."""
    n_bands = SIMHASH_BITS // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than {n_bands} bands of "
            f"{band_bits} bits over {SIMHASH_BITS}-bit SimHash (pigeonhole: "
            f"a true pair could differ in every band); lower band_bits"
        )
    sig = simhash(docs, id_col, text_col)
    mask = (1 << band_bits) - 1
    banded = sig.select(
        F.col(id_col), F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")

    if max_bucket_size is None:
        pairs = bucket_all_pairs(
            banded, ["band", "key"], id_col, sig_col="simhash"
        ).distinct()
    else:
        pairs = _capped_bucket_pairs(
            banded,
            ["band", "key"],
            id_col,
            max_bucket_size,
            sig_col="simhash",
            label="SimHash",
        )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# --- substring-level (window) dedup ----------------------------------------
#
# Doc-level MinHash/SimHash miss the common web-corpus failure mode where a
# long boilerplate passage (license header, nav bar, quoted reply) repeats
# inside otherwise-distinct documents.  The standard fix is exact duplicate
# detection over fixed-length token windows ("exact substring dedup"): hash
# every w-token window, count occurrences corpus-wide, and flag/measure the
# spans whose window hash occurs more than once.  Distributed shape: the
# window explode is the big intermediate (|tokens| rows at stride=1), one
# map-side-combined count shuffle on the window hash, one hash-partitioned
# join back.  Hashes are md5 of the joined window so the DuckDB oracle
# reproduces them bit-for-bit.
#
# Sparsification (stride > 1): POSITION-aligned subsampling (i % stride == 0)
# only matches copies whose offsets agree mod stride — a span pasted one
# token later in another doc is invisible.  The default is therefore
# CONTENT-DEFINED anchoring (the winnowing/CDC idea): a window starts
# wherever md5(first token) % stride == 0.  Identical spans pick identical
# span-relative anchors in every copy, so cross-doc detection is
# alignment-independent; expected window density is 1/stride, and any
# duplicated span that contains an anchored window (expected once per
# ~stride tokens) is caught deterministically given the content.


def _window_starts(toks: Column, window: int, stride: int, anchor: str) -> Column:
    """Array of window start positions (0-based) under the chosen scheme."""
    all_starts = F.sequence(F.lit(0), F.size(toks) - window)
    if stride == 1:
        picked = all_starts
    elif anchor == "position":
        picked = F.filter(all_starts, lambda i: i % stride == 0)
    elif anchor == "content":
        picked = F.filter(
            all_starts,
            lambda i: F.conv(
                F.substring(F.md5(F.element_at(toks, i + 1)), 1, 8), 16, 10
            ).cast("long")
            % stride
            == 0,
        )
    else:
        raise ValueError(f"anchor must be 'content' or 'position', got {anchor!r}")
    return F.when(F.size(toks) >= window, picked).otherwise(
        F.array().cast("array<int>")
    )


def token_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    stride: int = 1,
    anchor: str = "content",
) -> DataFrame:
    """(id, start, whash) for sparsified ``window``-token windows.

    start is 0-based into the whitespace token array; whash =
    md5(space-joined window tokens).  Docs shorter than ``window`` tokens
    emit no rows.  Pure projection — zero shuffles.

    ``stride=1`` keeps every window.  ``stride>1`` keeps ~1/stride of them:
    ``anchor="content"`` (default) starts windows at content-defined anchors
    (md5(token) % stride == 0) so duplicated spans are detected regardless
    of their alignment across documents; ``anchor="position"`` keeps the
    position-aligned grid (i % stride == 0) — cheaper to reason about, but
    it only matches copies whose offsets agree mod stride."""
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = _window_starts(toks, window, stride, anchor)
    return (
        docs.select(F.col(id_col), toks.alias("__toks"), starts.alias("__starts"))
        .select(
            F.col(id_col),
            F.explode("__starts").alias("start"),
            F.col("__toks").alias("__toks"),
        )
        .select(
            F.col(id_col),
            F.col("start"),
            F.md5(
                F.concat_ws(" ", F.slice("__toks", F.col("start") + 1, F.lit(window)))
            ).alias("whash"),
        )
    )


def duplicate_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    stride: int = 1,
    min_count: int = 2,
    anchor: str = "content",
) -> DataFrame:
    """Window occurrences whose hash appears >= min_count times corpus-wide
    (within-doc repeats count, as in exact-substring training-data dedup).

    Returns (id, start, whash, n_occurrences).  One count shuffle on whash
    (map-side combined) + one hash-partitioned join back — both scale-safe:
    the key is a uniform md5, so no skew beyond genuinely viral passages."""
    # the window frame feeds BOTH join sides: without the lineage cut the
    # corpus would be re-scanned and re-window-hashed once per side (plus
    # once more in substring_dup_stats) — 2-3 redundant corpus passes at
    # the 100 TB scale this operator targets.  Lazy checkpoint: computed
    # once at the first action, reused by every consumer.
    wins = token_windows(
        docs, id_col, text_col, window, stride, anchor
    ).localCheckpoint(eager=False)
    counts = (
        wins.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    return wins.join(counts, "whash").select(
        id_col, "start", "whash", "n_occurrences"
    )


def substring_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    stride: int = 1,
    min_count: int = 2,
    anchor: str = "content",
) -> DataFrame:
    """Per-doc exact-substring duplication metrics.

    Columns: id, n_tokens, n_windows, n_dup_windows, dup_window_frac,
    dup_token_frac — the last is |union of duplicated [start, start+window)
    intervals| / n_tokens, the "how much of this doc is boilerplate that
    also appears elsewhere" number curation gates want.

    The interval union is computed per doc from the sorted start array:
    contribution of the first interval is ``window``; each later start adds
    min(window, gap to its predecessor) — valid because all intervals share
    one width.  That keeps the union an O(dup windows per doc) JVM array
    fold, no per-row Python."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tokens = F.size(toks)
    # window count under the SAME sparsification scheme as the hashes
    n_windows = F.size(_window_starts(toks, window, stride, anchor)).cast("long")
    base = docs.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        n_windows.alias("n_windows"),
    )
    dups = duplicate_windows(
        docs, id_col, text_col, window, stride, min_count, anchor
    )
    ss = F.array_sort(F.collect_list("start"))
    per_doc = dups.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"), ss.alias("__ss")
    )
    gaps = F.when(
        F.size("__ss") >= 2,
        F.zip_with(
            F.slice("__ss", 2, F.size("__ss") - 1),
            F.slice("__ss", 1, F.size("__ss") - 1),
            lambda a, b: F.least(F.lit(window), a - b),
        ),
    ).otherwise(F.array().cast("array<int>"))
    covered = (
        F.lit(window)
        + F.aggregate(gaps, F.lit(0), lambda acc, g: acc + g)
    ).cast("long")
    per_doc = per_doc.select(
        id_col, "n_dup_windows", covered.alias("__covered")
    )
    out = base.join(per_doc, id_col, "left")
    return out.select(
        id_col,
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.round(
            F.when(
                F.col("n_windows") > 0,
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_window_frac"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.least(
                    F.coalesce("__covered", F.lit(0)) / F.col("n_tokens"), F.lit(1.0)
                ),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_frac"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    stride: int = 1,
    min_count: int = 2,
    anchor: str = "content",
) -> DataFrame:
    """Cut duplicated passages out of the corpus, keeping one canonical copy.

    The remediation side of exact-substring dedup: every duplicated
    ``window``-token span is removed from all documents EXCEPT its canonical
    occurrence — the globally smallest (start, doc_id) for that window hash.
    A canonical span is exempt from removal FOR ITS OWN hash but can still
    lose tokens to an overlapping removable span in the same doc (inherent
    to span cutting; a fully-boilerplate doc can come back empty even where
    it held some canonical windows).  The guarantee is: no non-canonical
    duplicated span survives intact, and at most one intact copy of any
    repeated passage remains corpus-wide.

    Returns (id, text_clean, n_tokens, n_removed_tokens).  text_clean is the
    space-joined surviving tokens in original order (empty string when a doc
    is entirely boilerplate).

    Distributed shape: ``duplicate_windows``'s count shuffle + join, one
    min-struct aggregation per window hash (map-side combined; the canonical
    pick is deterministic), one per-doc collect of removable starts, one
    hash join back to the corpus.  The final token filter is a JVM
    higher-order expression, O(tokens x removable-intervals-per-doc) per doc
    — bounded, since removable intervals per doc <= n_windows/stride."""
    dups = duplicate_windows(
        docs, id_col, text_col, window, stride, min_count, anchor
    )
    canon = dups.groupBy("whash").agg(
        F.min(F.struct("start", id_col)).alias("__c")
    )
    removable = (
        dups.join(canon, "whash")
        .where(
            ~(
                (F.col(id_col) == F.col(f"__c.{id_col}"))
                & (F.col("start") == F.col("__c.start"))
            )
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("start")).alias("__rm"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = docs.join(removable, id_col, "left").select(
        F.col(id_col),
        toks.alias("__toks"),
        F.coalesce("__rm", F.array().cast("array<int>")).alias("__rm"),
    )
    kept = F.filter(
        "__toks",
        lambda x, i: ~F.exists(
            "__rm", lambda s: (s <= i) & (i < s + F.lit(window))
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )
