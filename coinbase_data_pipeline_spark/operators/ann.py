"""Approximate-nearest-neighbor search over embedding columns.

SURVEY.md §2 extension. Two strategies:

- :func:`brute_force_topk` — exact cosine top-k for a (small) query
  set against the corpus. The query side is broadcast; the corpus is
  scanned once. Exact baseline and recall oracle.
- :func:`lsh_topk` — random-hyperplane LSH: sign-bit sketch per
  vector → bucket join on sketch prefix → within-bucket exact cosine
  top-k. The bucket join is the scale path: candidate count per query
  is corpus/2^p on average instead of the full corpus.

Hyperplanes are derived deterministically from the md5-based hash60
family (functions/text.py) rather than a driver-side RNG, so results
are reproducible across runs and engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from .spread import spread_scan


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                       F.lit(0.0), lambda acc, z: acc + z)


def embedding_centroids(emb: DataFrame, *, label_col: str = "label",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-label element-wise mean vector in long format
    (label, pos, mean_val) — the centroid computation underlying IVF
    partitioning / k-means assignment steps.

    posexplode → groupBy(label, pos): stays JVM-side with map-side
    partial averages; the output is tiny (labels × dim), so downstream
    assignment broadcasts it. Long format keeps the oracle comparison
    free of array-reassembly order concerns.
    """
    v = F.col(vec_col).cast("array<double>")
    exploded = emb.select(F.col(label_col),
                          F.posexplode(v).alias("pos", "val"))
    return (exploded.groupBy(label_col, "pos")
            .agg((F.round(F.avg("val"), 6) + F.lit(0.0)).alias("mean_val"),
                 F.count(F.lit(1)).alias("n_vectors")))


def _score(cand: DataFrame) -> DataFrame:
    """Shared exact scoring: (query_id, nn_id, qv, qn, cv, cn) →
    + cosine rounded to 6dp. One formula for every ANN entry (the
    recall tests compare brute force vs LSH vs IVF, so all must score
    identically). Cosine is SYMMETRIC bit-exactly (per-element a·b
    multiplies commute in IEEE, the fold order is the shared element
    order, qn·cn commutes), which is what lets self-join callers score
    each unordered pair once and mirror."""
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    return cand.withColumn("cosine", F.round(cos, 6))


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k policy: ties broken on nn_id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "nn_id", "cosine", "rank"))


def _rerank(cand: DataFrame, k: int) -> DataFrame:
    """Score + top-k in one step (the asymmetric-candidate path)."""
    return _rank(_score(cand), k)


def _corpus_side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    # the corpus side carries the per-candidate dot products — never
    # let a one-split scan serialize them (no-op on partitioned input)
    out = spread_scan(df).select(F.col(id_col).alias("nn_id"),
                                 v.alias("cv"))
    return out.withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))


def _query_side(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    out = df.select(F.col(id_col).alias("query_id"), v.alias("qv"))
    return out.withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     k: int = 5) -> DataFrame:
    """Exact cosine top-k per query vector (query ids broadcast)."""
    c = _corpus_side(corpus, id_col, vec_col)
    q = _query_side(queries, id_col, vec_col)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("nn_id"))
    return _rerank(pairs, k)


def hyperplane_values(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane p
    is hash60(f"p{p}c{j}") scaled to [-1, 1]. Computed driver-side as
    plain floats (they are constants — no reason to re-derive them
    per-row) so the same numbers can be inlined into oracle SQL."""
    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"p{plane}c{j}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000001 - 1000000) / 1000000.0)
    return out


def _hyperplane(dim: int, plane: int) -> Column:
    return F.array(*[F.lit(v) for v in hyperplane_values(dim, plane)])


def sketch(vec: Column, dim: int, planes: int = 8,
           offset: int = 0) -> Column:
    """Sign-bit sketch over planes [offset, offset+planes):
    bit p = (vec · hyperplane_{offset+p}) >= 0."""
    bits = [
        F.when(_dot(vec, _hyperplane(dim, offset + p)) >= 0,
               F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(planes)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return acc.cast("int")


def ivf_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             label_col: str = "label", nprobe: int = 3,
             k: int = 5) -> DataFrame:
    """IVF-style ANN: the corpus is inverted-file-partitioned by its
    cluster assignment (here the existing `label` column stands in for
    a k-means assignment; see :func:`embedding_centroids` for the
    centroid step), queries probe the `nprobe` nearest centroids and
    re-rank exactly within those partitions only.

    Scale path: per query the candidate set is nprobe/n_lists of the
    corpus; the centroid table (lists × dim) broadcasts everywhere.
    Recall vs brute force is pytest-gated (rows-only semantics — the
    probe choice depends on float argmin ties, so no SQL oracle).
    Centroids are computed UNROUNDED here (embedding_centroids rounds
    its output for oracle hashing; probe ranking shouldn't inherit
    that quantization).
    """
    v = F.col(vec_col).cast("array<double>")
    cents = (corpus.select(F.col(label_col).alias("c_label"),
                           F.posexplode(v).alias("pos", "val"))
             .groupBy("c_label", "pos")
             .agg(F.avg("val").alias("m"))
             .groupBy("c_label")
             .agg(F.array_sort(F.collect_list(
                 F.struct("pos", "m"))).alias("_pm"))
             .select("c_label",
                     F.transform("_pm", lambda s: s["m"]).alias("cv")))
    q = _query_side(queries, id_col, vec_col)
    # rank centroids per query, keep nprobe nearest (by cosine)
    qc = q.crossJoin(F.broadcast(cents))
    ccos = _dot(F.col("qv"), F.col("cv")) / (
        F.col("qn") * F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_ccos").desc(), F.col("c_label"))
    probes = (qc.withColumn("_ccos", ccos)
              .withColumn("_pr", F.row_number().over(wq))
              .filter(F.col("_pr") <= nprobe)
              .select("query_id", "qv", "qn", "c_label"))
    c = corpus.select(F.col(id_col).alias("nn_id"), v.alias("cv"),
                      F.col(label_col).alias("c_label"))
    c = c.withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    cand = (c.join(F.broadcast(probes), "c_label")
            .filter(F.col("query_id") != F.col("nn_id")))
    return _rerank(cand, k)


def lsh_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, planes: int = 8, bands: int = 4,
             k: int = 5) -> DataFrame:
    """Banded random-hyperplane ANN: a candidate pair is any (query,
    corpus) sharing a bucket in ANY of the `bands` independent
    sketches (OR-amplification → recall), each sketch AND-ing `planes`
    sign bits (→ precision). Exact cosine re-rank within candidates.

    Scale path: the corpus-side shuffle key is (band, bucket) — the
    per-query candidate count is ~bands * corpus / 2^planes instead of
    the full corpus; no cross join ever materializes. The candidate
    stream carries BARE ids: each banded row holds its full per-band
    bucket list (bands × 8 B) and a pair is kept only in its FIRST
    matching band (_first_match_band — exactly-once without the
    dropDuplicates shuffle this used in ≤r07), vectors re-attach
    AFTER candidates (the minhash_lsh_pairs lesson — r08 migration,
    A/B'd result-identical at sf0.1 with the 64-double payloads and
    one exchange removed from the candidate stream). Recall vs
    :func:`brute_force_topk` is pytest-gated (tests/test_operators.py).

    Only the corpus side is capped (dedup.cap_hot_buckets), under the
    family's recall contract: a (query, corpus) pair is missed iff the
    corpus row was capped out of the FIRST band where the two sketches
    agree, even if it survives a later agreeing band.
    """
    from .dedup import _band, _first_match_band, cap_hot_buckets

    base = _corpus_side(corpus, id_col, vec_col)

    def _svals(vc: str):
        return [sketch(F.col(vc), dim, planes, offset=b * planes)
                .alias(f"s{b}") for b in range(bands)]

    # corpus-side hot-bucket bound (its window partitions on the join
    # keys, so the guard's exchange is the join's own); the query side
    # is a small broadcast relation and needs no cap
    cband = cap_hot_buckets(_band(base.select("nn_id", *_svals("cv")),
                                  bands, "nn_id"), "nn_id")
    qside = _query_side(queries, id_col, vec_col)
    qband = _band(qside.select("query_id", *_svals("qv")), bands,
                  "query_id", side="b")
    cand_ids = (cband.join(F.broadcast(qband), ["band", "bsig"])
                .filter(F.col("query_id") != F.col("nn_id"))
                .filter(_first_match_band(bands))
                .select("query_id", "nn_id"))
    cand = (cand_ids.join(base, "nn_id")
            .join(F.broadcast(qside), "query_id"))
    return _rerank(cand, k)


def knn_graph(emb: DataFrame, *, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int = 64,
              planes: int = 4, bands: int = 8, k: int = 5) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the corpus itself —
    the substrate for graph-based curation (SemDeDup clustering,
    near-dup PageRank, label propagation): per vector, its top-k
    cosine neighbors among LSH candidates, as (vec_id, nn_id, cosine,
    rank) edges.

    Unlike :func:`lsh_topk` (small broadcast query side), BOTH sides
    are the corpus: candidates come from a (band, bucket) equi-join of
    the banded sketch relation with itself (dedup._sketch_candidates),
    each colliding pair emitted exactly once from its FIRST matching
    band instead of a global distinct over the candidate stream.
    Vectors re-attach AFTER candidate generation, then the shared
    `_rerank` scores and ranks (identical tie policy to every other
    ANN entry). Per-vector candidate count is ~bands·n/2^planes; no
    cross join ever materializes.

    The hyperplanes are deterministic constants, so the whole graph is
    SQL-oracle-checkable; recall of true top-k edges is pytest-gated.
    """
    from .dedup import _sketch_candidates

    # UNORDERED candidate emission (a < b): cosine is bit-exactly
    # symmetric (see _score), so each pair's 64-dim dot product runs
    # ONCE and the edge mirrors afterward — half the verify CPU of
    # scoring both directions
    base, cand_ids = _sketch_candidates(emb, id_col, vec_col, dim,
                                        planes, bands)
    cand = (cand_ids
            .join(base.select(F.col("a_id").alias("query_id"),
                              F.col("v").alias("qv"),
                              F.col("norm").alias("qn")),
                  cand_ids["a_id"] == F.col("query_id"))
            .join(base.select(F.col("a_id").alias("nn_id"),
                              F.col("v").alias("cv"),
                              F.col("norm").alias("cn")),
                  cand_ids["b_id"] == F.col("nn_id"))
            .select("query_id", "nn_id", "qv", "qn", "cv", "cn"))
    scored = _score(cand).select("query_id", "nn_id", "cosine")
    mirrored = scored.unionAll(
        scored.select(F.col("nn_id").alias("query_id"),
                      F.col("query_id").alias("nn_id"), "cosine"))
    return (_rank(mirrored, k)
            .withColumnRenamed("query_id", id_col))


def kmeans_assign(emb: DataFrame, *, k: int = 8, iterations: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Deterministic Lloyd k-means: seed centroids are the vectors
    with the k smallest ids, then `iterations` rounds of
    assign-to-nearest (squared L2) + recompute means. Returns the
    final assignment (vec_id, cluster, sq_dist) — the training step
    that produces :func:`ivf_topk`'s coarse quantizer.

    Every float that crosses an engine boundary is rounded to 6 dp
    (centroid coordinates and distances), and ties break on the
    smaller cluster id via lexicographic struct-min — the whole loop
    is therefore SQL-mirrorable CTE-for-CTE and hash-checked by the
    catalog oracle, unusual for an iterative ML kernel.

    Scale: centroids are k×dim — always broadcast; each round is one
    broadcast nested-loop over k (row-local argmin, no shuffle) plus
    one posexplode groupBy(cluster, pos) mean (one shuffle of
    k×dim partial sums). Rounds are a fixed small constant (IVF
    quantizers train on a sample; assignment of the full corpus is
    the one-pass production step this operator also serves).
    """
    v = F.col(vec_col).cast("array<double>")
    base = spread_scan(emb).select(F.col(id_col), v.alias("v"))
    cents = (base.orderBy(id_col).limit(k)
             .select(F.col(id_col).alias("cluster"),
                     F.col("v").alias("c")))
    assigned = None
    for _ in range(iterations):
        cr = cents.select(
            "cluster",
            F.transform("c", lambda x: F.round(x, 6) + F.lit(0.0))
            .alias("c"))
        dist = F.aggregate(
            F.zip_with(F.col("v"), F.col("c"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, z: acc + z)
        assigned = (base.crossJoin(F.broadcast(cr))
                    .select(F.col(id_col), "v",
                            F.struct((F.round(dist, 6) + F.lit(0.0))
                                     .alias("d"),
                                     F.col("cluster")).alias("dc"))
                    .groupBy(id_col, "v")
                    .agg(F.min("dc").alias("m"))
                    .select(F.col(id_col),
                            F.col("v"),
                            F.col("m.cluster").alias("cluster"),
                            F.col("m.d").alias("sq_dist")))
        cents = (assigned
                 .select("cluster", F.posexplode("v").alias("pos", "x"))
                 .groupBy("cluster", "pos")
                 .agg((F.round(F.avg("x"), 6) + F.lit(0.0)).alias("val"))
                 .groupBy("cluster")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "val"))),
                     lambda s: s.getField("val")).alias("c")))
    return assigned.select(id_col, "cluster", "sq_dist")


# ------------------------------------------------------- product quantization

def _subspaces(df: DataFrame, id_col: str, vec_col: str, m: int,
               sub: int, out_id: str) -> DataFrame:
    """(id, vec) → (id, subspace, sv): the vector split into m
    contiguous sub-dim slices. Narrow explode — no shuffle."""
    v = F.col(vec_col).cast("array<double>")
    entries = F.array(*[
        F.struct(F.lit(s).alias("subspace"),
                 F.slice(v, s * sub + 1, sub).alias("sv"))
        for s in range(m)])
    return (df.select(F.col(id_col).alias(out_id),
                      F.explode(entries).alias("e"))
            .select(out_id, F.col("e.subspace").alias("subspace"),
                    F.col("e.sv").alias("sv")))


def _sq_dist(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, z: acc + z)


def pq_train_encode(emb: DataFrame, *, m: int = 4, dim: int = 64,
                    k: int = 16, iterations: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Product quantization (Jégou et al. 2011): split each vector
    into m contiguous subvectors, train an independent k-entry
    codebook per subspace with the SAME deterministic Lloyd recipe as
    :func:`kmeans_assign` (seed = subvectors of the k smallest ids,
    squared-L2 argmin, 6dp-rounded centroids, (distance, cluster)
    tie-break), and encode every vector as m one-byte codes.

    Returns (codes, codebook): codes = (id, subspace, code, sq_dist);
    codebook = the ROUNDED per-subspace centroids the final
    assignment used — exactly what ADC search must reuse.

    Scale: all m subspaces train in ONE pipeline — the subspace id is
    part of the key, so each Lloyd round is one broadcast equi-join on
    `subspace` plus one (subspace, cluster, pos) mean shuffle. The
    argmin itself is a ROW-LOCAL FOLD over the packed codebook array
    (one broadcast row per subspace, `least` over (distance, cluster)
    structs) — unlike a join-against-k-centroids + groupBy argmin, it
    never materializes the k-way row blowup nor reshuffles the corpus
    per Lloyd round, which is what survives a billion-vector corpus.
    min over structs is fold-order independent, so the
    nondeterministic collect_list order cannot leak into results.
    Codes compress dim x 8 bytes to m codes — the memory step that
    makes billion-vector ANN feasible.
    """
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    base = _subspaces(emb, id_col, vec_col, m, sub, id_col)
    seeds = emb.orderBy(id_col).limit(k)
    cents = (_subspaces(seeds, id_col, vec_col, m, sub, "cluster"))
    zero = F.struct(F.lit(float("inf")).alias("d"),
                    F.lit(None).cast("long").alias("cluster"))
    assigned, cr = None, None
    for _ in range(iterations):
        cr = cents.select(
            "subspace", "cluster",
            F.transform("sv", lambda x: F.round(x, 6) + F.lit(0.0))
            .alias("c"))
        cb = cr.groupBy("subspace").agg(
            F.collect_list(F.struct("cluster", "c")).alias("cbs"))

        def _dc(e):
            return F.struct(
                (F.round(_sq_dist(F.col("sv"), e.getField("c")), 6)
                 + F.lit(0.0)).alias("d"),
                e.getField("cluster").alias("cluster"))

        best = F.aggregate(F.col("cbs"), zero,
                           lambda acc, e: F.least(acc, _dc(e)))
        assigned = (base.join(F.broadcast(cb), "subspace")
                    .select(F.col(id_col), "subspace", "sv",
                            best.alias("mn"))
                    .select(F.col(id_col), "subspace", "sv",
                            F.col("mn.cluster").alias("cluster"),
                            F.col("mn.d").alias("sq_dist")))
        cents = (assigned
                 .select("subspace", "cluster",
                         F.posexplode("sv").alias("pos", "x"))
                 .groupBy("subspace", "cluster", "pos")
                 .agg((F.round(F.avg("x"), 6) + F.lit(0.0)).alias("val"))
                 .groupBy("subspace", "cluster")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "val"))),
                     lambda s: s.getField("val")).alias("sv")))
    codes = assigned.select(F.col(id_col), "subspace",
                            F.col("cluster").alias("code"), "sq_dist")
    return codes, cr


def pq_topk(corpus: DataFrame, queries: DataFrame, *, m: int = 4,
            dim: int = 64, k_codes: int = 16, iterations: int = 2,
            k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: the
    query stays exact; each corpus vector's distance is approximated
    by summing, per subspace, the distance from the query subvector to
    the corpus vector's ASSIGNED centroid — one lookup-table join
    instead of any full-vector math on the corpus side.

    Plan: LUT = queries x codebook (Q x m x k_codes rows — broadcast);
    codes equi-join LUT on (subspace, code); per (query, vec) the m
    subspace terms are summed IN SUBSPACE ORDER (array_sort over
    collected (subspace, d) structs — a groupBy SUM would add doubles
    in partition order, which no oracle can replicate bit-for-bit);
    row_number top-k. The corpus is touched once to encode and once to
    join codes — never again per query, which is the PQ payoff at
    billion-vector scale.
    """
    codes, cb = pq_train_encode(corpus, m=m, dim=dim, k=k_codes,
                                iterations=iterations, id_col=id_col,
                                vec_col=vec_col)
    lut = _pq_lut(queries, cb, m=m, dim=dim, id_col=id_col,
                  vec_col=vec_col)
    terms = (codes.join(F.broadcast(lut), ["subspace", "code"])
             .filter(F.col(id_col) != F.col("query_id")))
    return _adc_topk(terms, id_col=id_col, k=k)


def _pq_lut(queries: DataFrame, cb: DataFrame, *, m: int, dim: int,
            id_col: str, vec_col: str) -> DataFrame:
    """ADC lookup table: (query_id, subspace, code, d) — the 6dp
    distance from each query subvector to every codebook entry.
    Q x m x k rows: always broadcast."""
    sub = dim // m
    qsub = _subspaces(queries, id_col, vec_col, m, sub, "query_id")
    return (qsub.join(F.broadcast(cb), "subspace")
            .select("query_id", "subspace",
                    F.col("cluster").alias("code"),
                    (F.round(_sq_dist(F.col("sv"), F.col("c")), 6)
                     + F.lit(0.0)).alias("d")))


def _adc_topk(terms: DataFrame, *, id_col: str, k: int) -> DataFrame:
    """Shared ADC scoring tail: (query_id, id, subspace, d) terms →
    per-(query, vec) sum IN SUBSPACE ORDER (sorted-struct fold — a
    groupBy SUM would add doubles in partition order, which no oracle
    can replicate) → row_number top-k, ties on nn_id."""
    ordered_sum = F.aggregate(
        F.transform(F.array_sort(F.collect_list(F.struct("subspace", "d"))),
                    lambda s: s.getField("d")),
        F.lit(0.0), lambda acc, x: acc + x)
    adc = (terms.groupBy("query_id", F.col(id_col).alias("nn_id"))
           .agg((F.round(ordered_sum, 6) + F.lit(0.0)).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("nn_id"))
    return (adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "nn_id", "adc_dist", "rank"))


def _coarse_candidates(corpus: DataFrame, queries: DataFrame, *,
                       coarse_k: int, coarse_iterations: int,
                       nprobe: int, id_col: str, vec_col: str):
    """Shared IVF coarse stage: train the deterministic Lloyd
    quantizer (:func:`kmeans_assign`), recompute its 6dp-rounded
    per-cluster mean centroids, probe the `nprobe` nearest lists per
    query (rounded squared-L2 with cluster-id tie-break), and emit the
    candidate (query_id, id) pairs — ~nprobe/coarse_k of the corpus
    per query. Used by both :func:`ivf_exact_topk` (exact re-rank) and
    :func:`ivfpq_topk` (ADC re-rank); every float is 6dp-rounded so
    both compositions hash against CTE-for-CTE SQL oracles.

    Returns (cand, fullv, qfull) — candidates plus the double-cast
    corpus/query vector frames so callers don't re-cast.
    """
    asg = kmeans_assign(corpus, k=coarse_k, iterations=coarse_iterations,
                        id_col=id_col, vec_col=vec_col) \
        .select(id_col, "cluster")
    v = F.col(vec_col).cast("array<double>")
    fullv = corpus.select(F.col(id_col), v.alias("fv"))
    cents = (asg.join(fullv, id_col)
             .select("cluster", F.posexplode("fv").alias("pos", "x"))
             .groupBy("cluster", "pos")
             .agg((F.round(F.avg("x"), 6) + F.lit(0.0)).alias("val"))
             .groupBy("cluster")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("pos", "val"))),
                 lambda s: s.getField("val")).alias("c")))
    qfull = queries.select(F.col(id_col).alias("query_id"), v.alias("qv"))
    pd_ = _sq_dist(F.col("qv"), F.col("c"))
    probe_all = (qfull.crossJoin(F.broadcast(cents))
                 .select("query_id", "cluster",
                         (F.round(pd_, 6) + F.lit(0.0)).alias("d")))
    wp = Window.partitionBy("query_id").orderBy(F.col("d"),
                                                F.col("cluster"))
    probes = (probe_all.withColumn("rn", F.row_number().over(wp))
              .filter(F.col("rn") <= nprobe)
              .select("query_id", "cluster"))
    cand = (asg.join(probes, "cluster")
            .filter(F.col(id_col) != F.col("query_id"))
            .select("query_id", id_col))
    return cand, fullv, qfull


def ivf_exact_topk(corpus: DataFrame, queries: DataFrame, *,
                   coarse_k: int = 8, coarse_iterations: int = 2,
                   nprobe: int = 3, k: int = 5,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """IVF with exact re-rank: the coarse Lloyd quantizer prunes the
    corpus to `nprobe` inverted lists per query, then the candidates
    are re-ranked by EXACT squared-L2 over the full vectors (vs
    :func:`ivfpq_topk`'s ADC approximation). This is the IVF-Flat
    index of production vector stores.

    Unlike the label-partitioned :func:`ivf_topk` (whose probe choice
    rides on unrounded float argmin ties), every boundary float here
    is 6dp-rounded and every tie breaks on an id — the whole pipeline
    value-hashes against its SQL oracle.

    Scale: candidates are ~nprobe/coarse_k of the corpus per query;
    the query side broadcasts; full vectors are read once for coarse
    assignment (offline) and once per candidate re-rank.
    """
    cand, fullv, qfull = _coarse_candidates(
        corpus, queries, coarse_k=coarse_k,
        coarse_iterations=coarse_iterations, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col)
    scored = (cand.join(fullv, id_col)
              .join(F.broadcast(qfull), "query_id")
              .select("query_id", F.col(id_col).alias("nn_id"),
                      (F.round(_sq_dist(F.col("qv"), F.col("fv")), 6)
                       + F.lit(0.0)).alias("l2_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("l2_dist"),
                                               F.col("nn_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "nn_id", "l2_dist", "rank"))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, *,
               coarse_k: int = 8, coarse_iterations: int = 2,
               nprobe: int = 3, m: int = 4, dim: int = 64,
               k_codes: int = 16, pq_iterations: int = 2, k: int = 5,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ — the production billion-vector ANN composition: a
    coarse Lloyd quantizer prunes the corpus to the `nprobe` nearest
    inverted lists per query, then ADC over PQ codes refines only
    those candidates. Corpus-side full vectors are touched exactly
    twice, both offline (coarse assignment + PQ encoding); query-time
    work is centroid probing (k_coarse broadcast rows) + a code-join
    over ~nprobe/k_coarse of the corpus.

    Probe centroids are the per-cluster means of the assigned vectors
    (6dp-rounded, the same mean recompute the Lloyd loop uses), so the
    whole composition — two trained quantizers + probing + ADC — still
    value-hashes against its SQL oracle.
    """
    cand, _fullv, _qfull = _coarse_candidates(
        corpus, queries, coarse_k=coarse_k,
        coarse_iterations=coarse_iterations, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col)
    codes, cb = pq_train_encode(corpus, m=m, dim=dim, k=k_codes,
                                iterations=pq_iterations, id_col=id_col,
                                vec_col=vec_col)
    lut = _pq_lut(queries, cb, m=m, dim=dim, id_col=id_col,
                  vec_col=vec_col)
    terms = (cand.join(codes, id_col)
             .join(F.broadcast(lut), ["query_id", "subspace", "code"]))
    return _adc_topk(terms, id_col=id_col, k=k)


def embedding_quantize(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       levels: int = 256) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus (the SQ8
    vector-index compression step): per-DIMENSION min/max over the
    corpus define an affine grid of `levels` codes, every vector
    encodes to one byte per dimension, and each row reports its
    reconstruction MSE plus an order-sensitive fingerprint of the
    code sequence — the compression/quality bookkeeping a billion-
    vector index build records.

    Plan: one narrow posexplode pass → a `dim`-keyed min/max
    aggregate (64 rows) → the stats collapse into ONE broadcast row
    of aligned arrays → encode/reconstruct are row-local indexed
    `transform` folds (no second shuffle, no UDF). Every float op is
    arithmetic on engine-identical doubles (float32 widens exactly;
    fold in list order), so codes AND mse value-hash.
    """
    from ..functions.text import hash60

    v = F.col(vec_col).cast("array<double>")
    dims = (emb.select(F.posexplode(v).alias("dim", "x"))
            .groupBy("dim")
            .agg(F.min("x").alias("lo"), F.max("x").alias("hi")))
    stats = dims.agg(
        F.transform(F.array_sort(F.collect_list(
            F.struct("dim", "lo"))), lambda s: s.getField("lo"))
        .alias("_los"),
        F.transform(F.array_sort(F.collect_list(
            F.struct("dim", "lo", "hi"))),
            lambda s: (s.getField("hi") - s.getField("lo"))
            / F.lit(float(levels - 1))).alias("_scales"))
    top = levels - 1

    def code_fn(x, i):
        lo = F.element_at(F.col("_los"), i + 1)
        sc = F.element_at(F.col("_scales"), i + 1)
        return F.when(sc > 0,
                      F.least(F.lit(top),
                              F.greatest(F.lit(0),
                                         F.round((x - lo) / sc, 0)
                                         .cast("int")))) \
                .otherwise(F.lit(0))

    q = (emb.select(F.col(id_col), v.alias("_v"))
         .crossJoin(F.broadcast(stats))
         .withColumn("_codes", F.transform(F.col("_v"), code_fn)))

    def err_fn(x, i):
        lo = F.element_at(F.col("_los"), i + 1)
        sc = F.element_at(F.col("_scales"), i + 1)
        c = F.element_at(F.col("_codes"), i + 1)
        return x - (lo + c * sc)

    e = q.withColumn("_errs", F.transform(F.col("_v"), err_fn))
    sq = F.aggregate(F.col("_errs"), F.lit(0.0),
                     lambda a, x: a + x * x)
    return e.select(
        F.col(id_col),
        F.size("_codes").cast("int").alias("n_dims"),
        (F.round(sq / F.size("_errs"), 6) + F.lit(0.0)).alias("mse"),
        hash60(F.array_join(
            F.transform(F.col("_codes"), lambda c: c.cast("string")),
            ",")).alias("codes_hash"))


def range_search(corpus: DataFrame, queries: DataFrame, *,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 threshold: float = 0.2) -> DataFrame:
    """Cosine RADIUS search: every corpus vector with cosine >=
    `threshold` to each query vector (the all-neighbors-within-radius
    API beside top-k — what near-dup thresholding and diversity
    filters actually consume). Exact over a broadcast query side;
    ranks within each result set by (cosine DESC, id) for a
    deterministic order. At corpus-side scale the same predicate runs
    over the banded hyperplane-LSH candidates instead (ann_lsh's
    bucket join) — exactness then bounded by sketch recall.
    """
    c = _corpus_side(corpus, id_col, vec_col)
    q = _query_side(queries, id_col, vec_col)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("nn_id"))
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (pairs.withColumn("cosine", F.round(cos, 6))
              .filter(F.col("cosine") >= threshold))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .select("query_id", "nn_id", "cosine", "rank"))
