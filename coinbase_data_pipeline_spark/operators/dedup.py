"""Document deduplication family — exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine.

These extend the reference's capabilities toward large-scale
training-data pipelines (SURVEY.md §2 "LLM-data-pipeline extensions").
Every method is expressed so that candidate generation is a hash-
bucket groupBy/join — pair enumeration only ever happens *within*
buckets, never as a global cross join; that is the property that
survives 100 TB.

Hashing uses the md5-based 60-bit family (functions/text.py) which is
bit-identical in DuckDB, so even MinHash/SimHash results are oracle-
checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import (hash60, minhash_signature, token_set, tokens,
                              word_shingles)
# summation order of the fold-based dot product is an oracle-parity
# contract — exactly one implementation may exist (ann.py)
from .ann import _dot as _vec_dot
from .spread import spread_scan


def _dense_spread(df: DataFrame, *cols) -> DataFrame:
    """Repartition a compute-dense, byte-small relation with an
    EXPLICIT partition count (2 × cluster parallelism). AQE's
    coalescer is byte-based, and the dedup candidate/verify stages are
    the opposite shape — tiny rows (bare id pairs) each carrying an
    O(tokens) array comparison downstream — so byte-targeted
    coalescing halves the usable cores right where CPU is the
    bottleneck. An explicit count is exempt from AQE coalescing; 2×
    parallelism also smooths residual per-bucket skew."""
    parts = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(parts, *cols)


def exact_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact duplicate grouping on normalized text: per doc, its
    normalized-text md5, the group's keeper (min id), and whether this
    row is the keeper. Single hash-groupBy shuffle."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    h = docs.select(F.col(id_col), F.md5(norm).alias("text_hash"))
    groups = h.groupBy("text_hash").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"))
    return (h.join(groups, "text_hash")
             .select(id_col, "text_hash", "keep_id", "group_size",
                     (F.col(id_col) == F.col("keep_id")).alias("is_keeper")))


def _band(sigd: DataFrame, bands: int, *cols, side: str = "a") -> DataFrame:
    """The banded relation every LSH candidate join reads: one row per
    (input row, band), keyed on `band` and `bsig` (that band's bucket,
    column `s{band}` of `sigd`), carrying `cols` plus the row's whole
    signature list as `{side}_s0 … {side}_s{bands-1}` — one scalar
    per band, what :func:`_first_match_band` compares. The vectors and token
    sets never travel through the candidate stream; they re-attach
    after the candidates are final."""
    return sigd.select(
        *cols,
        *[F.col(f"s{b}").alias(f"{side}_s{b}") for b in range(bands)],
        F.posexplode(F.array(*[f"s{b}" for b in range(bands)]))
        .alias("band", "bsig"))


def _first_match_band(bands: int):
    """Predicate over a banded LSH join row: this row's band is the
    FIRST of the `bands` per-band signature columns (a_s{j} vs b_s{j})
    where the two sides agree. Emitting a pair only from that band is
    the exactly-once invariant that replaces a global distinct over
    the candidate stream — an all-scalar CASE chain, stays inside
    whole-stage codegen. It tests signature equality, not bucket
    survival, which is what fixes the recall contract of a capped
    join (see :func:`cap_hot_buckets`). Every banded join in dedup.py
    and ann.py filters on it; change here, not inline."""
    pred = F.col("band") == 0
    for b in range(1, bands):
        earlier_none = F.lit(True)
        for j in range(b):
            earlier_none = earlier_none & ~(F.col(f"a_s{j}")
                                            == F.col(f"b_s{j}"))
        pred = pred | ((F.col("band") == b) & earlier_none)
    return pred


def _self_candidates(banded: DataFrame, bands: int, **renames) -> DataFrame:
    """The banded self-join of a :func:`_band` relation keyed `a_id`:
    rows sharing a (band, bsig) bucket, each unordered pair once
    (a_id < b_id, first matching band). `renames` names the b-side
    copy of each carried column (na="nb")."""
    right = banded.select(
        F.col("a_id").alias("b_id"),
        *[F.col(a).alias(b) for a, b in renames.items()],
        *[F.col(f"a_s{b}").alias(f"b_s{b}") for b in range(bands)],
        "band", "bsig")
    return (banded.join(right, ["band", "bsig"])
            .filter(F.col("a_id") < F.col("b_id"))
            .filter(_first_match_band(bands)))


# Per-(band, bucket) survivor bound for every LSH candidate join. 512
# keeps the worst bucket's pair fanout under 512²/2 ≈ 131k rows — one
# task's work — while sitting far above any bucket the catalog corpora
# produce (max observed bucket at sf0.1 is < 40 rows), so at catalog
# scale the cap NEVER binds and the SQL oracles stay cap-free.
BUCKET_CAP = 512


def cap_hot_buckets(banded: DataFrame, id_col: str,
                    cap: int = BUCKET_CAP, links: bool = False):
    """Bound every (band, bsig) bucket of a :func:`_band` relation to
    at most `cap` surviving rows — the explicit skew guard for
    degenerate corpora (e.g. millions of near-empty docs sharing one
    signature), where a single hot bucket would otherwise make the
    candidate join quadratic no matter how AQE splits it across tasks.

    Survivors are the `cap` rows with the smallest xxhash64(id) —
    uniform over the bucket, deterministic, engine-independent. The
    row_number window partitions on exactly the join keys, so its
    exchange is the same one the bucket join needs: the guard adds a
    per-bucket sort, never an extra shuffle.

    With `links=True`, returns (kept, numbered): `numbered` carries
    every row's bucket rank `_bn`, from which :func:`_star_links`
    builds O(m) star candidates that keep a hot duplicate FAMILY
    connected for keeper/component decisions after the cap removed
    its C(m,2) interior (measured need: the sf0.1 corpus has a
    ~2400-doc boilerplate family — half the corpus — whose members
    beyond the cap would otherwise silently become their own dedup
    keepers). Consumers exact-verify the links like any candidate.

    RECALL CONTRACT, binding only when a bucket exceeds `cap`: a pair
    is missed iff at least one member was capped out of the FIRST band
    where the two signatures agree. A later shared band where both
    members survive does not recover it — the first-match filter
    tests signature equality on the carried a_s*/b_s* columns, not
    bucket survival. A pair is never emitted twice: capping only
    removes rows before the first-match filter. For a degenerate
    bucket of m identical-signature docs every band keeps the SAME
    cap survivors (same ids, same xxhash order), so the output is
    exactly C(cap, 2) pairs instead of C(m, 2) — bounded work, bounded
    output. Property-tested with a planted hot band
    (tests/test_operators.py::test_hot_bucket_cap*) and a planted pair
    capped out of its first agreeing band
    (test_capped_first_band_pair_is_missed).
    """
    w = Window.partitionBy("band", "bsig").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col))
    numbered = banded.withColumn("_bn", F.row_number().over(w))
    if links:
        # the r07 plan re-executed the k-hash signature stage per
        # consumer of `numbered` (ADVICE r07) — a LAZY localCheckpoint
        # computes it once on the first action and is ContextCleaner-
        # reclaimed on GC (unlike cacheManager-pinned persist), with
        # ZERO extra job barriers. VERDICT r07 #2's driver-side
        # max-bucket pre-check was built and A/B-rejected in-process
        # (sf0.1, min-of-3, interleaved): probe design 4.65s self /
        # 6.37s vs-join against 3.54s / 3.19s for this plan (r07:
        # 5.48s / 3.28s) — the probe's job barrier costs more than
        # the numbering sort it can skip, because the sort rides the
        # bucket join's own exchange. On a healthy corpus the star
        # link branches are empty filters over the one cached
        # relation — near-free without any probe.
        numbered = numbered.localCheckpoint(eager=False)
    kept = numbered.filter(F.col("_bn") <= cap).drop("_bn")
    return (kept, numbered) if links else kept


def _star_links(numbered: DataFrame, id_col: str, hubs: DataFrame,
                hub_col: str, cap: int, out: str) -> DataFrame:
    """STAR LINKS from two `cap_hot_buckets(links=True)` relations:
    every id capped out of a bucket of `numbered` gets ONE candidate,
    `out`, to the rank-1 survivor (the hub) of the same bucket in
    `hubs`, from the first band it was capped in. O(m) extra
    candidates per hot bucket instead of the C(m,2) the cap removed —
    enough to keep a duplicate FAMILY connected (the family's
    survivors are a clique, the hub is in it, every non-survivor
    hangs off the hub). The links are CANDIDATES: consumers still
    exact-verify them, so a non-duplicate that merely collided into a
    hot bucket never false-links. The inner join gives an id whose
    bucket has no hub no link."""
    hub = hubs.filter(F.col("_bn") == 1).select(
        "band", "bsig", F.col(hub_col).alias("_hub"))
    return (numbered.filter(F.col("_bn") > cap)
            .select(id_col, "band", "bsig")
            .join(hub, ["band", "bsig"])
            .groupBy(id_col)
            .agg(F.min_by("_hub", F.col("band")).alias(out)))


def _minhash_base(docs: DataFrame, id_col: str, text_col: str,
                  side: str = "a") -> DataFrame:
    """(`{side}_id`, toks, n) per non-empty document: the token sets
    the MinHash signatures hash and the exact verify re-attaches."""
    # spread the raw text BEFORE tokenizing: a single-row-group scan
    # otherwise pipelines the whole token_set pass onto one core
    base = spread_scan(docs).select(F.col(id_col).alias(f"{side}_id"),
                                    token_set(text_col).alias("toks"))
    base = base.withColumn("n", F.size("toks"))
    # empty-token docs can never reach jaccard >= t (union 0 → 0.0);
    # excluding them here also prevents the all-NULL-signature bucket
    # from forming an O(m²) candidate clique of empty docs
    base = base.filter(F.col("n") > 0)
    # spread the k-way md5 signature work across the cluster: the raw
    # document scan often has far fewer input splits than cores, and
    # everything downstream (banding, bucket join, verify) inherits
    # its parallelism otherwise
    return _dense_spread(base, F.col(f"{side}_id"))


def _minhash_band(base: DataFrame, num_hashes: int, bands: int,
                  side: str = "a") -> DataFrame:
    """The banded MinHash relation of a :func:`_minhash_base`:
    `{side}_id`, `n{side}` and the per-band slice hashes."""
    if num_hashes % bands:
        # trailing hashes would be silently dropped, weakening recall —
        # and the generated DuckDB oracle assumes exact divisibility
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands
    idc = f"{side}_id"
    sig = base.select(idc, F.col("n"),
                      minhash_signature(F.col("toks"),
                                        k=num_hashes).alias("sig"))
    # per-band bucket key = xxhash64 of the band's hash slice: an
    # 8-byte join key with scalar (whole-stage-codegen) comparisons —
    # string concat keys and higher-order array filters dominate the
    # candidate join's hot loop otherwise. A hash collision could only
    # ADD a candidate (~2^-64/pair), which the exact-Jaccard verify
    # then removes — output unchanged.
    slice_hash = [
        F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                     for r in range(rows_per_band)]).alias(f"s{b}")
        for b in range(bands)]
    return _band(sig.select(idc, "n", *slice_hash), bands,
                 idc, F.col("n").alias(f"n{side}"), side=side)


def _jaccard_verify(cand_ids: DataFrame, abase: DataFrame,
                    bbase: DataFrame, threshold: float) -> DataFrame:
    """Exact token-set Jaccard over candidate (a_id, b_id) pairs:
    token sets re-attach from `abase` (keyed a_id) and `bbase` (keyed
    b_id); returns (a_id, b_id, jaccard) at or above `threshold`."""
    # spread the verify stage: without an exchange here the whole
    # pipeline inherits the document scan's (few) input partitions and
    # the O(pairs × tokens) exact verify runs near-serial. Shuffles
    # only the bare id pairs, already first-match-deduped — the
    # cheapest possible redistribution point
    cand_ids = _dense_spread(cand_ids, F.col("a_id"), F.col("b_id"))
    cand = (cand_ids
            .join(abase.select("a_id", F.col("toks").alias("atoks"),
                               F.col("n").alias("na")), "a_id")
            .join(bbase.select("b_id", F.col("toks").alias("btoks"),
                               F.col("n").alias("nb")), "b_id"))
    union = F.size(F.array_union("atoks", "btoks")).cast("double")
    inter = (F.col("na") + F.col("nb")).cast("double") - union
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (cand.withColumn("jaccard", F.round(jac, 6))
                .filter(F.col("jaccard") >= threshold))


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 16,
                      bands: int = 4,
                      jaccard_threshold: float = 0.9,
                      bucket_cap: int = BUCKET_CAP,
                      link_capped: bool = False) -> DataFrame:
    """MinHash + banded LSH candidate pairs, verified with exact
    token-set Jaccard. Hot buckets are bounded to `bucket_cap`
    survivors (see :func:`cap_hot_buckets` for the recall contract —
    a no-op below the cap).

    `link_capped=True` is the mode the KEEPER/COMPONENT decision
    queries use: every capped-out doc additionally gets one verified
    star candidate to its hot bucket's hub survivor, so a duplicate
    family larger than the cap stays CONNECTED (each member still
    maps to the family keeper) while the pair list stays O(cap² + m)
    per hot bucket instead of O(m²). Without it (the default for the
    raw pair-list query), the list is exactly the survivors' pairs —
    the documented bounded-recall contract. The sf0.1 corpus makes
    this distinction real: one ~2400-doc boilerplate family exceeds
    the 512 cap, and unlinked members would silently become their own
    keepers. In link mode a pair can appear twice (star + main
    stream) when a doc survives some band — the component fold is
    insensitive to duplicate edges.

    Pipeline: token set → k seeded min-hashes → split into bands →
    self-join on (band, band-signature) buckets → first-matching-band
    filter → re-attach token sets → size-ratio block → exact-Jaccard
    verify. No global cross join.

    Scale notes. (1) Candidate dedup is FREE: each banded row carries
    the full per-band signature list (bands × ~80 B — the arrays that
    must NOT travel are the token sets), and a pair is kept only in
    the FIRST band where the two signatures agree — so every
    candidate pair is emitted exactly once and the global
    6M+-row DISTINCT shuffle the naive join-then-dedup needs never
    happens, nor does duplicate verify work. (2) The size-ratio
    pre-filter is implied by Jaccard ≥ t (min/max ≥ t), so it only
    removes pairs that could never pass — output is identical,
    verify work isn't. (3) Exact Jaccard uses array_union only:
    token sets are distinct, so |a∩b| = na + nb - |a∪b| arithmetically
    — one O(n) array op per pair instead of two. Token arrays attach
    via two joins against the one-row-per-doc base relation (small →
    AQE broadcasts them).
    """
    base = _minhash_base(docs, id_col, text_col)
    banded = _minhash_band(base, num_hashes, bands)
    if link_capped:
        banded, numbered = cap_hot_buckets(banded, "a_id", cap=bucket_cap,
                                           links=True)
    else:
        banded = cap_hot_buckets(banded, "a_id", cap=bucket_cap)
    t = jaccard_threshold
    cand_ids = (_self_candidates(banded, bands, na="nb")
                # size-ratio block applied before anything
                # materializes: implied by jaccard >= t, so it only
                # drops pairs that could never pass
                .filter((F.col("na") * t <= F.col("nb"))
                        & (F.col("nb") * t <= F.col("na")))
                .select("a_id", "b_id"))
    if link_capped:
        # star candidates for capped-out docs, ordered like the main
        # stream; they skip the size-ratio pre-filter (the exact
        # verify decides) and may duplicate a main-stream pair when a
        # doc survives some band — harmless for the component/keeper
        # consumers this mode exists for
        lk = _star_links(numbered, "a_id", numbered, "a_id", bucket_cap,
                         "hub_id")
        cand_ids = cand_ids.unionByName(lk.select(
            F.least("a_id", "hub_id").alias("a_id"),
            F.greatest("a_id", "hub_id").alias("b_id")))
    return (_jaccard_verify(cand_ids, base,
                            base.withColumnRenamed("a_id", "b_id"), t)
            .select(F.col("a_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"), "jaccard"))


def simhash(docs: DataFrame, *, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-document SimHash over the token set: bit j of the result is
    the majority vote of bit j across all token hash60s. Pure
    expression work — zero shuffles.

    Single-pass fold: each token's md5 is computed ONCE and expanded
    into a ±1 bit-vector summed into an array of `bits` counters
    (Catalyst does not CSE across higher-order lambdas, so a
    per-bit-fold formulation would re-hash every token `bits` times).
    """
    toks = token_set(text_col)
    hashes = F.transform(toks, lambda t: hash60(t))

    def bitvec(h):
        return F.array(*[
            F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            for j in range(bits)])

    zero = F.array_repeat(F.lit(0), bits)
    votes = F.aggregate(
        hashes, zero,
        lambda acc, h: F.zip_with(acc, bitvec(h), lambda a, b: a + b))
    # reference `votes` exactly once (no CSE across lambdas): zip with
    # the constant 2^j array and sum the contributing powers
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    contrib = F.zip_with(votes, powers,
                         lambda v, p: F.when(v > 0, p)
                                       .otherwise(F.lit(0).cast("long")))
    sim = F.aggregate(contrib, F.lit(0).cast("long"),
                      lambda a, x: a + x)
    # the hash-fold is the whole cost; don't let a one-split scan
    # serialize it (spread_scan is a no-op on well-partitioned input)
    return spread_scan(docs).select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 32,
                  bands: int = 4, max_hamming: int = 3,
                  bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """Near-dup candidate pairs from SimHash + hamming bands.

    Pigeonhole: two hashes within hamming distance `bands - 1` must
    agree on at least one of `bands` equal-width bit bands — so pairs
    sharing ANY band are the candidates (band groupBy-join, no cross
    join), then the exact hamming distance filters to `max_hamming`.
    With bands=4 the candidate recall is exact for distance <= 3 —
    except within buckets larger than `bucket_cap`, which are bounded
    per :func:`cap_hot_buckets`'s recall contract (no-op below it).
    """
    sh = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
    width = bits // bands
    mask = (1 << width) - 1
    bvals = [F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask))
             .alias(f"s{b}") for b in range(bands)]
    sigd = sh.select(F.col(id_col).alias("a_id"),
                     F.col("simhash").alias("ah"), *bvals)
    banded = cap_hot_buckets(_band(sigd, bands, "a_id", "ah"), "a_id",
                             cap=bucket_cap)
    cand = (_self_candidates(banded, bands, ah="bh")
            .select("a_id", "b_id", "ah", "bh"))
    ham = F.bit_count(F.col("ah").bitwiseXOR(F.col("bh")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("a_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    F.col("hamming").cast("int").alias("hamming")))


def ngram_jaccard_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 1,
                        threshold: float = 0.9) -> DataFrame:
    """Exact n-gram-set Jaccard pairs above threshold.

    Candidate generation is a LOSSLESS prefix-prefix filter (the
    All-Pairs/PPJoin family — the :func:`containment_pairs` recipe,
    symmetric version). Under a global total order on grams
    (ascending document frequency, ties by hash — rarest first, the
    standard candidate-minimizing order), a doc's PREFIX is its first
    p = n − ⌈t·n⌉ + 1 grams. The prefix lemma: J(A,B) ≥ t implies
    |A∩B| ≥ ⌈t/(1+t)·(na+nb)⌉ = α ≥ ⌈t·max(na,nb)⌉ (since
    J ≤ min/max), and any pair with |A∩B| ≥ α must share a gram
    within BOTH prefixes of length n − α + 1 ≤ p — so joining prefix
    grams against prefix grams loses no pair, and the plain all-pairs
    SQL stays the oracle. This replaced the earlier log-length
    bucketing (r12): length buckets are CONTENT-BLIND, so their
    candidate space is Θ(Σ_bucket n_b²) — quadratic in corpus size
    at equal-length profiles — while prefix buckets are content-keyed
    and grow with true-duplicate density (measured two-decade curve
    in SCALING.md).

    Exactly-once emission without a global dropDuplicates: every
    banded row carries its doc's ordered prefix array (~p × 8 B — the
    token arrays still attach only after candidates are final), and a
    pair is kept only at the globally SMALLEST shared prefix gram
    (`array_intersect` preserves left-array order). At that row no
    earlier gram of either doc is shared (a shared earlier gram would
    be in both prefixes — contradiction with minimality), so the
    PPJoin positional bound |A∩B| ≤ 1 + min(na−i−1, nb−j−1) is valid
    and prunes candidates that could never reach α. Both pruning
    bounds use conservative integer arithmetic (t floored to 1e-6
    rational — never drops a true pair, no float-boundary trims); the
    float size-ratio predicate `n·t ≤ m` stays IEEE-exact because the
    oracle applies the same expression, making it output semantics,
    not an optimization. Gram keys are hash60 LONGs; losslessness of
    the pigeonhole needs gram↔hash injectivity on the corpus, so the
    df aggregate also carries min/max gram string per hash (min≠max ⟺
    two distinct grams collided) and raises (executor-side
    `raise_error`, no extra job) on a collision
    — probability ~(distinct grams)²/2⁶¹, never observed; the failure
    mode is a loud error, not a silently wrong pair list. The
    probabilistic (sub-verify-cost) path for unknown corpora remains
    :func:`minhash_lsh_pairs`; this operator is the exact method, and
    its verify stage is irreducibly output-bound.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    toks = (token_set(text_col) if shingle_n == 1
            else word_shingles(token_set(text_col), shingle_n))
    base = spread_scan(docs).select(F.col(id_col), toks.alias("toks"),
                                    F.size(toks).alias("n"))
    # n = 0 docs can never reach jaccard >= t (> 0): empty∩empty has
    # union 0 → jaccard 0; excluding them is output-identical
    base = base.filter(F.col("n") > 0)
    # parallelize shingling past the scan's input splits (see
    # minhash_lsh_pairs). Deliberately NOT checkpointed, unlike
    # containment_pairs: its three consumers re-tokenize, but plain
    # token_set is scan-cheap (no n-gram shingling) and the eager
    # materialization costs more than the recompute at every measured
    # scale (sf0.1: 6.8s with vs 5.1s without)
    base = _dense_spread(base, F.col(id_col))

    # t floored to an exact ≤-rational with a 1e6 denominator: bound
    # arithmetic stays in LONGs (n ≤ ~1e6 tokens ⇒ products ≤ ~1e12,
    # no overflow) and t' ≤ t guarantees every bound is conservative
    t_num, t_den = int(threshold * 1_000_000), 1_000_000

    grams = (base.select(F.col(id_col).alias("a_id"), "n",
                         F.explode("toks").alias("_g"))
             .select("a_id", "n", "_g",
                     hash60(F.col("_g"), "njac").alias("g_h")))
    # df per gram hash + the injectivity guard (see docstring): _df is
    # true document frequency because token sets are distinct per doc.
    # Collision test is min(gram) != max(gram) within the hash group —
    # equivalent to "≥ 2 distinct" but map-side combinable without
    # count_distinct's expand (~0.5s cheaper at sf0.1)
    dfc = (grams.groupBy("g_h")
           .agg(F.count(F.lit(1)).alias("_df"),
                F.min("_g").alias("_g0"), F.max("_g").alias("_g1")))
    guard = F.when(
        F.col("_g0") != F.col("_g1"),
        F.raise_error(F.concat(
            F.lit("hash60 collision on gram hash "), F.col("g_h"),
            F.lit(" — prefix filter unsound for this corpus")))
        .cast("long")).otherwise(F.col("_df"))
    ranked = grams.join(dfc, "g_h").select(
        "a_id", "n", "g_h", guard.alias("_df"))
    # per-doc gram list in the global (df, hash) order; prefix = first
    # n − ⌈t·n⌉ + 1 entries (⌈⌉ via negated floor-div, exact integers)
    required = -F.floor(F.lit(-t_num) * F.col("n") / F.lit(t_den))
    sorted_h = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("_df").alias("d"),
                                             F.col("g_h").alias("h")))),
        lambda s: s["h"])
    pref = (ranked.groupBy("a_id")
            .agg(F.first("n").alias("n"), sorted_h.alias("sorted"))
            .select("a_id", "n",
                    F.slice("sorted", F.lit(1),
                            F.col("n") - required + 1).alias("pref")))
    a = pref.select(F.col("a_id"), F.col("n").alias("na"),
                    F.col("pref").alias("pa"),
                    F.posexplode("pref").alias("i", "g_h"))
    b = a.select(F.col("a_id").alias("b_id"), F.col("na").alias("nb"),
                 F.col("pa").alias("pb"), F.col("i").alias("j"), "g_h")
    # positional bound: at the first shared gram (positions i, j in
    # the global order) nothing earlier on either side is shared, so
    # |A∩B| ≤ 1 + min(remaining) — keep only pairs where that can
    # still reach α = ⌈t/(1+t)·(na+nb)⌉
    ubound = F.lit(1) + F.least(F.col("na") - F.col("i") - 1,
                                F.col("nb") - F.col("j") - 1)
    # exactly-once: keep the pair only at its globally SMALLEST shared
    # prefix gram m. Scalar short-circuits cover the hot cases so the
    # O(p²) array_intersect runs only on the residue:
    # - pa[0] == pb[0]: that gram is shared and nothing orders below
    #   it on either side, so m = pa[0] — keep iff i == 0 (then also
    #   j == 0). On a duplicate FAMILY (identical prefix arrays —
    #   the emission-dominant case) every row takes this branch.
    # - i == 0 (g is A's absolute first): any shared prefix gram is
    #   ≥ pa[0] = g and m ≤ g (g is shared), so m = g — keep.
    #   Symmetric for j == 0. At most one row per pair can satisfy
    #   these (two distinct "minimum shared" grams is a
    #   contradiction), so emission stays exactly-once.
    # - otherwise: array_intersect preserves left order; its head is m.
    first_match = (
        F.when(F.col("pa")[0] == F.col("pb")[0],
               (F.col("i") == 0) & (F.col("j") == 0))
        .when((F.col("i") == 0) | (F.col("j") == 0), F.lit(True))
        .otherwise(F.col("g_h") == F.array_intersect("pa", "pb")[0]))
    cand_ids = (a.join(b, "g_h")
                .filter((F.col("a_id") < F.col("b_id"))
                        # oracle-semantic IEEE ratio predicate (the
                        # all-pairs SQL applies the identical float
                        # expression — this is output semantics)
                        & (F.col("na") * F.lit(threshold) <= F.col("nb"))
                        & (F.col("nb") * F.lit(threshold) <= F.col("na"))
                        & (ubound * F.lit(t_num + t_den)
                           >= (F.col("na") + F.col("nb"))
                           * F.lit(t_num)))
                .filter(first_match)
                .select(F.col("a_id").alias("doc_a"),
                        F.col("b_id").alias("doc_b")))
    # no _dense_spread here: the attach joins below already shuffle
    # the candidate stream by doc_a / doc_b (when not broadcast) — an
    # explicit repartition first would be a third, wasted shuffle
    pairs = (cand_ids
             .join(base.select(F.col(id_col).alias("doc_a"),
                               F.col("toks").alias("atoks"),
                               F.col("n").alias("na")), "doc_a")
             .join(base.select(F.col(id_col).alias("doc_b"),
                               F.col("toks").alias("btoks"),
                               F.col("n").alias("nb")), "doc_b"))
    # shingle sets are distinct → |a∩b| = na + nb - |a∪b| exactly;
    # one O(n) array op per pair instead of intersect + union
    union = F.size(F.array_union("atoks", "btoks")).cast("double")
    inter = (F.col("na") + F.col("nb")).cast("double") - union
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (pairs.withColumn("jaccard", F.round(jac, 6))
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))


def connected_components(pairs: DataFrame, *, src: str = "doc_a",
                         dst: str = "doc_b",
                         iterations: int = 16) -> DataFrame:
    """Connected components over a near-dup pair list by min-label
    propagation WITH pointer jumping — turns pairwise matches into
    canonical dedup groups (component id = min doc id in the
    component).

    Each round does (a) a 1-hop step — every vertex takes the min of
    its neighbours' labels — then (b) a pointer-jump step — every
    vertex takes its label's label. The jump roughly doubles the
    propagation distance per round, so the rounds cover components of
    diameter ~2^iterations (tests include a long-chain graph that
    plain 1-hop at the same round count would split).

    The loop exits at the FIXED POINT: when a round changes no label,
    the labeling is final (min-label propagation is monotone), so the
    result is exact regardless of the cap — near-dup graphs are
    clique-like and typically converge in 2-3 rounds; `iterations` is
    only a runaway bound for adversarial diameter-2^16 graphs. The
    convergence probe is an isEmpty() on the just-checkpointed round
    output, so it costs a short local scan, not a recompute. Each
    round is two joins + one groupBy on the vertex set, no
    driver-side collect.
    """
    from pyspark import StorageLevel

    edges = (pairs.select(F.col(src).alias("e_src"),
                          F.col(dst).alias("e_dst"))
             .union(pairs.select(F.col(dst), F.col(src))))
    # materialize: each round references edges once and the previous
    # labels three times — without truncation the pair-generation
    # lineage would be re-executed O(3^iterations) times. Hash-
    # partition by e_src at cluster parallelism BEFORE persisting:
    # the per-round groupBy(e_src) then reuses the cached
    # partitioning (no per-round edge exchange), and the round's
    # task count is the cluster's, not whatever the upstream pair
    # pipeline used (its 2×-spread layout doubled per-round
    # scheduling overhead for zero work).
    parts = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (edges.repartition(parts, F.col("e_src"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    labels = (edges.select(F.col("e_src").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(iterations):
        neigh = (edges.join(labels,
                            labels["id"] == edges["e_dst"])
                 .groupBy(F.col("e_src").alias("n_id"))
                 .agg(F.min("label").alias("n_min")))
        half = (labels.join(neigh, labels["id"] == F.col("n_id"),
                            "left")
                .select(F.col("id"), F.col("label").alias("old"),
                        F.least(F.col("label"),
                                F.coalesce("n_min", "label"))
                        .alias("label"))
                .localCheckpoint(eager=True))
        # pointer jump: labels are always vertex ids, so label-of-label
        # is a self-join of the label table (left join only for safety
        # — every label is present as an id)
        parent = half.select(F.col("id").alias("p_id"),
                             F.col("label").alias("p_label"))
        stepped = (half.join(parent, half["label"] == F.col("p_id"),
                             "left")
                   .select(half["id"], half["old"],
                           F.least(half["label"],
                                   F.coalesce("p_label", half["label"]))
                           .alias("label"))
                   .localCheckpoint(eager=True))
        labels = stepped.select("id", "label")
        if stepped.filter(F.col("label") != F.col("old")).isEmpty():
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component_id"))




def _sketch_candidates(emb: DataFrame, id_col: str, vec_col: str,
                       dim: int, planes: int, bands: int):
    """Random-hyperplane LSH candidates over one embedding relation
    (operators/ann.py sketches: deterministic hash-derived planes, so
    every consumer stays SQL-oracle-checkable with the same inlined
    plane constants). Returns (base, cand_ids): base is (a_id, v,
    norm) per vector; cand_ids is every unordered pair (a_id < b_id)
    sharing a `planes`-bit sketch bucket in ANY of `bands` bands,
    spread for the CPU-dense verify (see _dense_spread)."""
    from .ann import sketch

    v = F.col(vec_col).cast("array<double>")
    # bands × planes × dim sketch arithmetic per vector — spread past
    # a one-split scan before any of it runs
    base = spread_scan(emb).select(F.col(id_col).alias("a_id"),
                                   v.alias("v"))
    base = base.withColumn("norm", F.sqrt(_vec_dot(F.col("v"),
                                                   F.col("v"))))
    svals = [sketch(F.col("v"), dim, planes, offset=b * planes)
             .alias(f"s{b}") for b in range(bands)]
    banded = cap_hot_buckets(_band(base.select("a_id", *svals), bands,
                                   "a_id"), "a_id")
    cand_ids = _self_candidates(banded, bands).select("a_id", "b_id")
    return base, _dense_spread(cand_ids, F.col("a_id"), F.col("b_id"))


def embedding_neighbor_stats(emb: DataFrame, *, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.45) -> DataFrame:
    """Per-vector near-duplicate stats over ALL other vectors: how many
    sit above `threshold` cosine similarity, and the max cosine.

    All-pairs — exact but O(n²); this is the RECALL ORACLE for
    :func:`embedding_neighbor_stats_lsh`, which is the scale path and
    the catalog entry. Kept for tests only.
    """
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col), v.alias("v"))
    withn = base.withColumn("norm", F.sqrt(_vec_dot(F.col("v"),
                                                    F.col("v"))))
    a = withn.select(F.col(id_col).alias("a_id"), F.col("v").alias("av"),
                     F.col("norm").alias("an"))
    b = withn.select(F.col(id_col).alias("b_id"), F.col("v").alias("bv"),
                     F.col("norm").alias("bn"))
    pairs = a.join(b, F.col("a_id") != F.col("b_id"))
    cos = _vec_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    return (pairs.withColumn("cos", cos)
            .groupBy(F.col("a_id").alias("vec_id"))
            .agg(F.sum((F.col("cos") >= threshold).cast("int"))
                  .alias("near_dup_count"),
                 (F.round(F.max("cos"), 6) + F.lit(0.0))
                 .alias("max_cosine")))


def embedding_neighbor_stats_lsh(emb: DataFrame, *,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 threshold: float = 0.45,
                                 dim: int = 64, planes: int = 4,
                                 bands: int = 8) -> DataFrame:
    """LSH-bucketed per-vector near-duplicate stats — the 100 TB path.

    Candidates are pairs sharing a random-hyperplane sketch bucket in
    ANY of `bands` independent bands (:func:`_sketch_candidates`),
    each emitted once from its first matching band. Vectors re-attach
    AFTERWARDS (the minhash_lsh_pairs lesson: never push array
    payloads through the candidate stream). Stats then aggregate
    exactly over the candidate set.

    Recall vs the exact :func:`embedding_neighbor_stats` is
    pytest-gated; per-pair candidate probability at cosine c is
    1-(1-(1-acos(c)/pi)^planes)^bands (~0.8 at c=0.45, higher for
    nearer duplicates).
    """
    # exactly-once UNORDERED emission (a < b, no global distinct):
    # cosine is bit-exactly symmetric (per-element multiplies commute,
    # shared fold order, an·bn commutes), so each pair's dot product
    # runs ONCE and both endpoints' stats read the mirrored row — half
    # the verify CPU of per-direction scoring
    base, cand_ids = _sketch_candidates(emb, id_col, vec_col, dim,
                                        planes, bands)
    cand = (cand_ids
            .join(base.select("a_id", F.col("v").alias("av"),
                              F.col("norm").alias("an")), "a_id")
            .join(base.select(F.col("a_id").alias("b_id"),
                              F.col("v").alias("bv"),
                              F.col("norm").alias("bn")), "b_id"))
    cos = _vec_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    scored = cand.withColumn("cos", cos).select("a_id", "b_id", "cos")
    mirrored = scored.unionAll(
        scored.select(F.col("b_id").alias("a_id"),
                      F.col("a_id").alias("b_id"), "cos"))
    return (mirrored
            .groupBy(F.col("a_id").alias("vec_id"))
            # COUNT, not SUM(cast): a zero-norm vector's cosines are
            # all NULL (x/0 → NULL on both engines), and SUM over an
            # all-NULL group is NULL where the count the contract
            # wants — and the oracle computes — is 0 (found by
            # tools/fuzz_parity.py --zero-vector)
            .agg(F.count(F.when(F.col("cos") >= threshold, F.lit(1)))
                  .alias("near_dup_count"),
                 (F.round(F.max("cos"), 6) + F.lit(0.0))
                 .alias("max_cosine")))


def dedup_keep_decision(docs: DataFrame, pairs: DataFrame, *,
                        id_col: str = "doc_id",
                        iterations: int = 8) -> DataFrame:
    """The dedup END DECISION a curation pipeline actually consumes:
    every document mapped to the canonical keeper of its near-dup
    component (minimum doc id — exactly the converged component
    label), with an is_keeper flag. Documents in no near-dup pair
    keep themselves.

    One connected-components run over the pair list plus a left join
    back onto the corpus — the join is on the corpus' own key, so it
    co-partitions with any downstream per-doc work.
    """
    comp = connected_components(pairs, iterations=iterations)
    labels = comp.select(F.col("doc_id").alias(id_col),
                         F.col("component_id").alias("_keep"))
    out = docs.select(id_col).join(labels, on=id_col, how="left")
    keep = F.coalesce("_keep", F.col(id_col))
    return out.select(
        F.col(id_col),
        keep.alias("keep_id"),
        (keep == F.col(id_col)).alias("is_keeper"))


def semantic_dedup_pairs(emb: DataFrame, *, k: int = 8,
                         iterations: int = 2,
                         threshold: float = 0.4,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): partition embeddings with a k-means quantizer,
    then emit exact cosine pairs ≥ threshold WITHIN each cluster
    only. Complements :func:`embedding_neighbor_stats_lsh` — cluster
    partitioning (data-adaptive) instead of random hyperplane buckets.

    Scale: the pair space is Σ n_c² over clusters instead of n² —
    with balanced clusters a k-fold reduction, and k grows with the
    corpus (the paper uses ~100k clusters at web scale). The cluster
    equi-join is a hash join keyed on the cluster id; vectors travel
    once; pairs that straddle clusters are missed BY DESIGN (the
    method's recall tradeoff, recall pytest-gated). Reuses the
    hash-checked deterministic Lloyd loop (operators/ann.py), so the
    whole pipeline — quantizer included — is SQL-oracle-checkable.
    """
    from .ann import kmeans_assign

    assigned = kmeans_assign(emb, k=k, iterations=iterations,
                             id_col=id_col, vec_col=vec_col)
    v = F.col(vec_col).cast("array<double>")
    base = (spread_scan(emb).select(F.col(id_col), v.alias("v"))
            .withColumn("norm", F.sqrt(_vec_dot(F.col("v"), F.col("v"))))
            .join(assigned.select(id_col, "cluster"), id_col))
    a = base.select(F.col("cluster"), F.col(id_col).alias("vec_a"),
                    F.col("v").alias("av"), F.col("norm").alias("an"))
    b = base.select(F.col("cluster"), F.col(id_col).alias("vec_b"),
                    F.col("v").alias("bv"), F.col("norm").alias("bn"))
    pairs = a.join(b, "cluster").filter(F.col("vec_a") < F.col("vec_b"))
    cos = (F.round(_vec_dot(F.col("av"), F.col("bv"))
                   / (F.col("an") * F.col("bn")), 6) + F.lit(0.0))
    return (pairs.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("cluster", "vec_a", "vec_b", "cosine"))


def dedup_keep_best_decision(docs: DataFrame, pairs: DataFrame,
                             scores: DataFrame, *,
                             id_col: str = "doc_id",
                             score_col: str = "quality",
                             iterations: int = 8) -> DataFrame:
    """Quality-aware keeper selection: every document mapped to the
    HIGHEST-SCORING member of its near-dup component (ties on the
    smaller doc id) — what a curation pipeline actually wants to keep,
    vs :func:`dedup_keep_decision`'s arbitrary min-id keeper.

    `scores` is (id_col, score_col); scores crossing the engine
    boundary must already be rounded (the catalog feeds the 6dp
    quality_score view) so the argmax compares identical doubles.

    Plan: one components run over the pair list, then the per-
    component argmax is a struct-max aggregate — max(struct(score,
    -id)) — which partial-aggregates map-side (no per-component sort,
    no window). The final keeper attach is a component-keyed join of
    two id-sized relations.
    """
    comp = connected_components(pairs, iterations=iterations)
    labels = (docs.select(id_col)
              .join(comp.select(F.col("doc_id").alias(id_col),
                                F.col("component_id").alias("_grp")),
                    on=id_col, how="left")
              .withColumn("_grp", F.coalesce("_grp", F.col(id_col)))
              .join(scores.select(F.col(id_col),
                                  F.col(score_col).alias("_score")),
                    on=id_col))
    best = (labels.groupBy("_grp")
            .agg(F.max(F.struct(F.col("_score").alias("s"),
                                (-F.col(id_col)).alias("nid")))
                 .alias("_m"))
            .select("_grp", (-F.col("_m.nid")).alias("keep_id"),
                    F.col("_m.s").alias("keep_score")))
    return (labels.join(best, "_grp")
            .select(F.col(id_col), "keep_id", "keep_score",
                    (F.col(id_col) == F.col("keep_id"))
                    .alias("is_keeper")))


def minhash_lsh_pairs_vs(left: DataFrame, right: DataFrame, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         num_hashes: int = 16, bands: int = 4,
                         jaccard_threshold: float = 0.9,
                         bucket_cap: int = BUCKET_CAP,
                         link_capped: bool = False) -> DataFrame:
    """Cross-relation MinHash LSH: candidate pairs between a LEFT
    relation (e.g. a newly arrived batch) and a RIGHT relation (e.g.
    the historical corpus) — the join an incremental ingest pipeline
    runs every cycle, where re-self-joining the whole corpus would be
    quadratic in corpus growth.

    Same construction as :func:`minhash_lsh_pairs` (banded slice-hash
    equi-join, first-matching-band exactly-once emission, implied
    size-ratio block, exact-Jaccard verify) but the two sides are
    different relations, so there is no `a < b` ordering constraint —
    every (left, right) pair is emitted at most once via the
    first-match filter alone. At scale the right side's banded
    signatures are a materialized table maintained incrementally;
    only the left (new) side is hashed per cycle.

    Returns (left_id, right_id, jaccard).
    """
    lbase = _minhash_base(left, id_col, text_col, "a")
    rbase = _minhash_base(right, id_col, text_col, "b")
    lband = _minhash_band(lbase, num_hashes, bands, "a")
    rband = _minhash_band(rbase, num_hashes, bands, "b")
    # cap each side's hot buckets independently (worst-bucket fanout
    # ≤ cap² even when BOTH relations pile onto one signature)
    link_ids = None
    if link_capped:
        # cross-relation star links: a LEFT (batch) doc capped out of
        # its bucket still gets one verified candidate against the
        # RIGHT (history) side's hub survivor — without it, a batch
        # doc inside a >cap family would come back is_new even though
        # its duplicates fill the history bucket. (A capped-out RIGHT
        # doc needs no link: it is only a match target, and the
        # bucket's `cap` history survivors already represent it.) The
        # history side being materialized is the documented scale
        # design anyway (a real deployment maintains it as a table
        # across cycles); the batch side is per-cycle small by
        # definition.
        lb, lnum = cap_hot_buckets(lband, "a_id", cap=bucket_cap,
                                   links=True)
        rb, rnum = cap_hot_buckets(rband, "b_id", cap=bucket_cap,
                                   links=True)
        link_ids = _star_links(lnum, "a_id", rnum, "b_id", bucket_cap,
                               "b_id")
    else:
        lb = cap_hot_buckets(lband, "a_id", cap=bucket_cap)
        rb = cap_hot_buckets(rband, "b_id", cap=bucket_cap)
    t = jaccard_threshold
    cand_ids = (lb.join(rb, ["band", "bsig"])
                .filter(_first_match_band(bands))
                .filter((F.col("na") * t <= F.col("nb"))
                        & (F.col("nb") * t <= F.col("na")))
                .select("a_id", "b_id"))
    if link_ids is not None:
        cand_ids = cand_ids.unionByName(link_ids)
    return (_jaccard_verify(cand_ids, lbase, rbase, t)
            .select(F.col("a_id").alias("left_id"),
                    F.col("b_id").alias("right_id"), "jaccard"))


def incremental_dedup(batch: DataFrame, history: DataFrame, *,
                      id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 16, bands: int = 4,
                      jaccard_threshold: float = 0.9,
                      bucket_cap: int = BUCKET_CAP,
                      link_capped: bool = True) -> DataFrame:
    """Per-batch-doc dedup decision table against the historical
    corpus: (doc_id, dup_of = smallest matching history id,
    n_matches, max_jaccard, is_new). Every batch doc appears exactly
    once — docs with no near-dup in history (including empty docs)
    come back is_new = true.

    `link_capped` defaults ON here (unlike the raw pair list): this IS
    a decision table, and a batch doc capped out of a >cap bucket
    would otherwise come back is_new even though its duplicates fill
    the history side — the star link to the history hub keeps the
    verdict correct at O(1) extra candidates per capped doc
    (pytest: test_incremental_star_links_keep_verdicts).

    One cross-relation LSH join (:func:`minhash_lsh_pairs_vs`) + one
    per-batch-doc aggregate + one left join on the batch key. The
    history side never aggregates — at 100 TB it is the big side and
    only ever participates through its banded signature table.
    """
    pairs = minhash_lsh_pairs_vs(
        batch, history, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold,
        bucket_cap=bucket_cap, link_capped=link_capped)
    matches = (pairs.groupBy(F.col("left_id").alias(id_col))
               .agg(F.min("right_id").alias("dup_of"),
                    F.count(F.lit(1)).alias("n_matches"),
                    F.max("jaccard").alias("max_jaccard")))
    return (batch.select(id_col)
            .join(matches, id_col, "left")
            .select(id_col, "dup_of",
                    F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
                    "max_jaccard",
                    F.col("dup_of").isNull().alias("is_new")))


def containment_pairs(docs: DataFrame, *, n: int = 3,
                      threshold: float = 0.8, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Directed containment near-dup pairs: C(A→B) = |A∩B| / |A| over
    distinct word n-gram sets — the asymmetric-duplicate detector
    (a short doc quoted whole inside a long one) that symmetric
    Jaccard structurally misses (union-dominated).

    Candidate generation is a LOSSLESS prefix filter (the PPJoin
    family): each doc's grams rank by ascending global document
    frequency, and a pair with C ≥ t must share at least one of A's
    first |A| − ⌈t·|A|⌉ + 1 rarest grams — so A's prefix grams join
    against B's full gram stream and nothing above threshold can be
    missed (if no prefix gram hits B, the shared count is capped
    below ⌈t·|A|⌉). The prefix bound is INTEGER arithmetic
    (⌈t·|A|⌉ via negated floor-div with t as a ratio), so the bound
    is exact — no float-boundary prefix truncation.

    Scale: join keys are A's RAREST grams by construction, so the
    gram buckets that actually join are the small ones — the hub
    grams every doc shares never become keys. Every df/rank/join key
    is the gram's hash60 LONG, not the n-word string (8-byte shuffle
    keys — the dedup_spans recipe): the prefix filter is lossless
    under ANY consistent gram ordering (pigeonhole over A's prefix,
    B joins its full stream), so hash-collision-perturbed df ranks
    cannot lose a pair, and spurious hash-equal candidates fall to
    the exact verify. One df groupBy, one per-doc ranking window,
    one gram equi-join, exact verify on re-attached STRING gram
    arrays (the minhash_lsh_pairs lesson: arrays attach after
    candidates). Oracle = the all-pairs SQL (lossless ⇒ identical
    results); a subset-doc pytest covers the asymmetric case.
    """
    from pyspark.sql import Window

    t_num, t_den = int(threshold * 100), 100
    base = spread_scan(docs).select(F.col(id_col).alias("a_id"),
                                    word_shingles(tokens(F.col(text_col)),
                                                  n).alias("g"))
    base = base.withColumn("sz", F.size("g")).filter(F.col("sz") > 0)
    # the shingled relation feeds FOUR consumers (df counts, ranking,
    # the candidate join's b-side, and both verify attaches) — without
    # a checkpoint each one re-tokenizes and re-shingles the corpus
    base = _dense_spread(base, F.col("a_id")).localCheckpoint(eager=True)
    grams = (base.select("a_id", "sz", F.explode("g").alias("_gram"))
             .select("a_id", "sz",
                     hash60(F.col("_gram"), "cont").alias("gram_h")))
    dfc = grams.groupBy("gram_h").agg(F.count(F.lit(1)).alias("_df"))
    wd = Window.partitionBy("a_id").orderBy("_df", "gram_h")
    ranked = (grams.join(dfc, "gram_h")
              .withColumn("_rn", F.row_number().over(wd)))
    # required shared = ceil(t * |A|), exactly, in integers
    required = -F.floor(F.lit(-t_num) * F.col("sz") / F.lit(t_den))
    prefix = ranked.filter(F.col("_rn") <= F.col("sz") - required + 1)
    cand = (prefix.select("a_id", "gram_h")
            .join(grams.select(F.col("a_id").alias("b_id"), "gram_h"),
                  "gram_h")
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"]))
    # no _dense_spread: dropDuplicates already shuffled by the pair
    # key and the attaches below re-shuffle by a_id/b_id (when not
    # broadcast)
    withg = (cand
             .join(base.select("a_id", F.col("g").alias("ga"),
                               F.col("sz").alias("na")), "a_id")
             .join(base.select(F.col("a_id").alias("b_id"),
                               F.col("g").alias("gb")), "b_id"))
    c = (F.size(F.array_intersect("ga", "gb")).cast("double")
         / F.col("na"))
    return (withg
            .select(F.col("a_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    (F.round(c, 6) + F.lit(0.0)).alias("containment"))
            .filter(F.col("containment") >= threshold))


def doc_pagerank(docs: DataFrame, *, iterations: int = 3,
                 damping: float = 0.85, id_col: str = "doc_id",
                 text_col: str = "text", num_hashes: int = 16,
                 bands: int = 4,
                 jaccard_threshold: float = 0.9) -> DataFrame:
    """PageRank over the near-duplicate graph (undirected MinHash-LSH
    pairs as edges): centrality of each doc inside its duplication
    neighborhood — high-rank nodes are the template/boilerplate hubs
    a curation pipeline wants to inspect first.

    Deterministic and hash-checkable despite being an iterative float
    algorithm: every per-edge contribution is 6dp-rounded — an exact
    multiple of 1e-6 — and carried as BIGINT micros, so the per-node
    reduction is a plain integer SUM: order-independent, map-side
    combinable, bit-identical across engines (a double groupBy SUM
    would add in partition order — unreplicable; the earlier
    sorted-struct fold was replicable but serialized each node's
    inbox through an array sort). Rank update:
    pr'(v) = 0.15/N + 0.85 * sum_u pr(u)/deg(u).

    Scale: the standard Pregel-in-DataFrame shape — edges partitioned
    by src for the state join, messages shuffled by dst once per
    round; rounds are a fixed small constant. Reuses the banded LSH
    candidate join for edge discovery (no cross join anywhere).
    """
    pairs = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col,
                              num_hashes=num_hashes, bands=bands,
                              jaccard_threshold=jaccard_threshold)
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))))
    edges = _dense_spread(edges, F.col("src")).persist()
    # deg is read by every round's message join AND the final output —
    # checkpointing it (node-sized, tiny) stops each consumer from
    # re-deriving it through the whole pair pipeline
    deg = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=True))
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    state = (deg.crossJoin(F.broadcast(n))
             .select(F.col("src").alias("node"), "n_nodes",
                     (F.round(F.lit(1.0) / F.col("n_nodes"), 6)
                      + F.lit(0.0)).alias("pr")))
    for _ in range(iterations):
        # fixed-point contributions (the TF-IDF cosine recipe): the
        # 6dp-rounded pr/deg is an exact multiple of 1e-6, so carry it
        # as BIGINT micros — the per-node reduction becomes a plain
        # SUM: order-independent (no sorted-struct fold), map-side
        # combinable (messages partially aggregate before the dst
        # shuffle), and bit-identical across engines by integer
        # arithmetic instead of by replicated float op order
        msgs = (edges
                .join(state.withColumnRenamed("node", "src"), "src")
                .join(deg, "src")
                .select("dst", "n_nodes",
                        F.round(F.col("pr") / F.col("deg")
                                * F.lit(1_000_000.0))
                        .cast("long").alias("c_us")))
        # node-sized state checkpoints per round (the connected_
        # components recipe): each round's message shuffle runs
        # exactly once instead of re-executing inside every deeper
        # round's plan — 2x wall time on the bench corpus
        state = (msgs.groupBy(F.col("dst").alias("node"))
                 .agg(F.first("n_nodes").alias("n_nodes"),
                      F.sum("c_us").alias("s_us"))
                 .select("node", "n_nodes",
                         (F.round(F.lit(1 - damping) / F.col("n_nodes")
                                  + damping * (F.col("s_us")
                                               / F.lit(1_000_000.0)),
                                  6)
                          + F.lit(0.0)).alias("pr"))
                 .localCheckpoint(eager=True))
    out = (state.join(deg.withColumnRenamed("src", "node"), "node")
           .select(F.col("node").alias(id_col),
                   F.col("pr").alias("pagerank"),
                   F.col("deg").alias("degree")))
    edges.unpersist()
    return out


def repeated_spans(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 5,
                   min_docs: int = 2) -> DataFrame:
    """Exact substring-duplication audit at fixed window width — the
    exact-substring dedup idea (find verbatim spans shared across
    documents) restricted to k-token windows so candidate generation
    stays a hash equi-join: every k-token window is fingerprinted
    (hash60 of the space-joined slice), fingerprints occurring in
    >= min_docs DISTINCT documents mark "duplicated spans", and each
    doc reports how many of its token positions are covered by at
    least one duplicated span (interval union of [pos, pos+k-1]).

    Output per doc: n_tokens, n_dup_spans (duplicated window starts),
    dup_tokens (union coverage), dup_frac. dup_frac is a ratio of
    engine-identical integers — bit-identical unrounded.

    The interval union needs NO fold: duplicated starts sorted per
    doc cover least(k, pos - lag(pos)) new tokens each (first = k) —
    a lag window over integers.

    100 TB posture: the positions relation is (id, pos, hash) — three
    scalars, never the gram string — so the df groupBy and the
    join-back shuffle bytes stay ~24B/row; each position joins at
    most one fingerprint row (no fanout); the coverage window is
    per-doc (bounded by doc length). No cross joins anywhere.
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    base = (spread_scan(docs).select(F.col(id_col), toks.alias("_toks"),
                                     F.size(toks).alias("n_tokens")))
    pos = (base.filter(F.col("n_tokens") >= k)
           .select(id_col,
                   F.explode(F.sequence(
                       F.lit(1), F.col("n_tokens") - (k - 1))).alias("pos"),
                   F.col("_toks"))
           .select(id_col, "pos",
                   hash60(F.array_join(F.slice(F.col("_toks"),
                                               F.col("pos"), k), " "),
                          "span").alias("gram_h")))
    dup = (pos.select("gram_h", id_col).distinct()
           .groupBy("gram_h").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") >= min_docs)
           .select("gram_h"))
    hits = pos.join(dup, "gram_h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    cov = F.coalesce(F.least(F.lit(k), F.col("pos") - F.lag("pos").over(w)),
                     F.lit(k))
    agg = (hits.withColumn("_cov", cov)
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                F.sum("_cov").alias("dup_tokens")))
    return (base.select(id_col, "n_tokens")
            .join(agg, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce("n_dup_spans", F.lit(0))
                     .cast("long").alias("n_dup_spans"),
                    F.coalesce("dup_tokens", F.lit(0))
                     .cast("long").alias("dup_tokens"),
                    F.when(F.col("n_tokens") > 0,
                           F.coalesce("dup_tokens", F.lit(0))
                           .cast("double") / F.col("n_tokens"))
                     .otherwise(F.lit(0.0)).alias("dup_frac")))


def graph_triangles(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text", num_hashes: int = 16,
                    bands: int = 4,
                    jaccard_threshold: float = 0.9) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over
    the near-duplicate pair graph — the community-density signal on
    top of dedup_components/doc_pagerank: a high-clustering node sits
    inside a tight template family (every neighbor also duplicates
    every other), a low-clustering hub stitches unrelated docs.

    Triangle enumeration uses DEGREE-ORDERED orientation (the
    compact-forward algorithm): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, wedges are pairs
    of out-edges from a common node, and a wedge is a triangle iff
    the oriented edge between its endpoints exists. Out-degree under
    this orientation is O(√m) on ANY graph, so wedge work is bounded
    O(m^1.5) — where the naive id-ordered join explodes quadratically
    on hub nodes (near-dup template families are CLIQUES; id-ordering
    cost 48s at sf0.1, this shape is what makes 100× survivable).
    Per-node counts and degrees are integer aggregates, the
    coefficient 2·t/(deg·(deg−1)) a ratio of engine-identical
    integers (unrounded) — enumeration order never changes the
    counts, so the simple a<b<c SQL stays the oracle.

    The pair pipeline (the expensive part) runs ONCE — eagerly
    checkpointed, then read by every join alias; without the
    checkpoint each alias would re-execute MinHash end to end.
    """
    pairs = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col,
                              num_hashes=num_hashes, bands=bands,
                              jaccard_threshold=jaccard_threshold)
    e = (pairs.select(F.col("doc_a").alias("a"),
                      F.col("doc_b").alias("b"))
         .localCheckpoint(eager=True))
    deg = (e.select(F.col("a").alias("node"))
           .union(e.select(F.col("b").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).alias("degree"))
           .localCheckpoint(eager=True))
    # orient low-(degree, id) → high-(degree, id); carry the dst's
    # rank key so the wedge join can order endpoints without another
    # degree lookup
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    und = e.join(da, "a").join(db, "b")
    fwd = (F.col("_da") < F.col("_db")) | \
        ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    oe = (und.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("_db")).otherwise(F.col("_da"))
        .alias("dst_deg"))
        .localCheckpoint(eager=True))
    # EDGE-ITERATOR enumeration: a triangle with rank order x<y<z is
    # found at its (x, y) edge as z ∈ N⁺(x) ∩ N⁺(y). Out-neighbor
    # lists under the degree orientation are O(√m)-bounded, so the
    # per-edge sorted-array intersection does the same O(m^1.5) wedge
    # work as the wedge self-join — but as a ROW-LOCAL array op: the
    # wedge stream (≫ triangle count) never materializes as rows,
    # never shuffles into the closer join, and never hits the
    # wedge-join's per-row overhead (the join formulation measured
    # ~40s at sf0.1 with every core busy; this one ~4s). collect_list
    # state is the out-adjacency itself — bounded by orientation, the
    # thing an UNoriented adjacency build would get wrong on hubs.
    adj = (oe.groupBy("src")
           .agg(F.array_sort(F.collect_list("dst")).alias("nbrs")))
    j1 = (oe
          .join(adj.select(F.col("src").alias("_u"),
                           F.col("nbrs").alias("un")),
                F.col("src") == F.col("_u"))
          .select("src", "dst", "un"))
    # pin the second join's layout with an explicit-count hash
    # repartition (exempt from AQE coalescing): sorted-int adjacency
    # arrays compress ~10× in shuffle, so the byte-based coalescer
    # reads the heavy intersect stage as "small" and collapses it to
    # a handful of tasks (observed 3 tasks carrying the whole Ω(#T)
    # enumeration at sf0.1)
    j1 = _dense_spread(j1, F.col("dst"))
    inter = (j1
             .join(adj.select(F.col("src").alias("_v"),
                              F.col("nbrs").alias("vn")),
                   F.col("dst") == F.col("_v"))
             .select("src", "dst",
                     F.array_intersect("un", "vn").alias("ws")))
    # per-node counts in ONE Ω(#triangles) explode: the edge's two
    # endpoints each take the whole intersection size, every common
    # neighbor takes 1 — instead of materializing (x, y, z) triples
    # and re-exploding them 3-wide (3× the row volume for the same
    # sums; the two-explode form measured ~30s at sf0.1 vs ~12s)
    c = F.size("ws").cast("long")
    contrib = inter.select(F.explode(F.concat(
        F.array(F.struct(F.col("src").alias("node"), c.alias("c")),
                F.struct(F.col("dst").alias("node"), c.alias("c"))),
        F.transform("ws", lambda w: F.struct(
            w.alias("node"), F.lit(1).cast("long").alias("c")))))
        .alias("nc"))
    pern = (contrib.groupBy(F.col("nc.node").alias("node"))
            .agg(F.sum("nc.c").alias("triangles")))
    coeff = F.when(
        F.col("degree") > 1,
        F.lit(2.0) * F.col("triangles")
        / (F.col("degree") * (F.col("degree") - 1))).otherwise(F.lit(0.0))
    return (deg.join(pern, "node", "left")
            .select(F.col("node").alias(id_col),
                    F.col("degree").cast("long").alias("degree"),
                    F.coalesce("triangles", F.lit(0)).cast("long")
                     .alias("triangles"))
            .select(id_col, "degree", "triangles",
                    coeff.alias("clustering_coeff")))


def graph_triangles_doulion(docs: DataFrame, *, sample_p: float = 0.5,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            num_hashes: int = 16, bands: int = 4,
                            jaccard_threshold: float = 0.9) -> DataFrame:
    """DOULION-style sampled GLOBAL triangle count over the near-dup
    pair graph (Tsourakakis et al., KDD 2009: keep each edge with
    probability p, count triangles among kept edges, scale by 1/p³ —
    an unbiased estimator) — the 100×-survivable companion to
    :func:`graph_triangles`, whose exact enumeration has an
    irreducible Ω(#triangles) cost that sampling cuts by p³ (and the
    wedge work by p^1.5).

    The coin is a DETERMINISTIC hash gate — keep edge (a, b) iff
    hash60('doulion:' a|b) < p·2^60 — so the estimate is reproducible
    and the SQL oracle flips the same coins: an exactly checkable
    approximate algorithm. Enumeration on the sparsified graph uses
    the same degree-ordered edge-iterator as the exact operator
    (row-local sorted-array intersection, O(m'^1.5) wedge bound).

    One summary row: (n_edges, n_edges_kept, tri_sampled, sample_p,
    est_triangles = tri_sampled/p³). Relative error vs the exact
    count is pytest-gated (tests/test_operators.py).
    """
    pairs = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col,
                              num_hashes=num_hashes, bands=bands,
                              jaccard_threshold=jaccard_threshold)
    e = (pairs.select(F.col("doc_a").alias("a"),
                      F.col("doc_b").alias("b"))
         .localCheckpoint(eager=True))
    thresh = int(sample_p * (1 << 60))
    gate = hash60(F.concat_ws("|", F.col("a").cast("string"),
                              F.col("b").cast("string")),
                  "doulion") < F.lit(thresh)
    ke = e.filter(gate).localCheckpoint(eager=True)
    deg = (ke.select(F.col("a").alias("node"))
           .union(ke.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("_d")))
    da = deg.select(F.col("node").alias("a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("_d").alias("_db"))
    und = ke.join(da, "a").join(db, "b")
    fwd = (F.col("_da") < F.col("_db")) | \
        ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    oe = und.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"))
    adj = (oe.groupBy("src")
           .agg(F.array_sort(F.collect_list("dst")).alias("nbrs")))
    j1 = (oe.join(adj.select(F.col("src").alias("_u"),
                             F.col("nbrs").alias("un")),
                  F.col("src") == F.col("_u"))
          .select("src", "dst", "un"))
    j1 = _dense_spread(j1, F.col("dst"))
    # each triangle x<y<z (rank order) counted ONCE at its (x, y) edge
    tri = (j1.join(adj.select(F.col("src").alias("_v"),
                              F.col("nbrs").alias("vn")),
                   F.col("dst") == F.col("_v"))
           .agg(F.coalesce(
               F.sum(F.size(F.array_intersect("un", "vn"))),
               F.lit(0)).cast("long").alias("tri_sampled")))
    scale = 1.0 / (sample_p ** 3)
    return (e.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(F.broadcast(
                ke.agg(F.count(F.lit(1)).alias("n_edges_kept"))))
            .crossJoin(F.broadcast(tri))
            .select("n_edges", "n_edges_kept", "tri_sampled",
                    F.lit(float(sample_p)).alias("sample_p"),
                    (F.round(F.col("tri_sampled") * F.lit(scale), 6)
                     + F.lit(0.0)).alias("est_triangles")))


def tfidf_cosine_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       threshold: float = 0.5,
                       df_frac: float = 0.2) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs over word n-gram terms —
    the LEXICAL-VECTOR similarity member of the dedup family
    (set-Jaccard ignores term weighting, embedding-cosine needs an
    encoder; idf-weighted shingle cosine is the classic middle
    ground). Terms are DISTINCT per-doc 3-grams (binary tf), weight
    = ln(1 + N/df).

    Candidate generation is the INVERTED-INDEX join: posting lists
    self-join on the term, restricted to terms with document
    frequency <= df_frac·N — the standard impact-ordered pruning
    (hub terms carry near-zero idf but quadratic join fanout; the
    SCORE DEFINITION includes the cap, the oracle applies the same
    cap, so parity is exact). Per-pair dot products and per-doc
    norms are FIXED-POINT INTEGER sums: each term contribution
    rounds onto a decimal grid and sums as a BIGINT — integer
    addition is associative, so the reduction is order-independent,
    map-side-combining and O(1) per group, yet still value-hashes
    (the sorted-struct fold gives the same guarantee but buffers
    and sorts every group's terms; swapping it here cut sf0.1 wall
    time 21.7s → 16.7s — prefer this recipe whenever the terms can
    be gridded without overflow: products ≤ ln(1+N)²·1e6 per term
    ≪ 2^63). Postings shuffle as
    (hash60(term), doc, w) triples — the term string never shuffles.

    The capped posting relation is consumed THREE times (norms, and
    both sides of the inverted-index self-join); left as lineage,
    Spark re-executes the tokenize/shingle/hash stage — the
    dominant CPU cost — once per consumer. So: df via
    COUNT OVER (PARTITION BY term_h) instead of a groupBy +
    join-back (one pass, one fewer exchange, same recipe as
    boilerplate_ngrams), then the capped postings localCheckpoint
    (posting-sized, ~24 B/row — the doc_pagerank state recipe), so
    the corpus is tokenized exactly once and the self-join reads
    materialized blocks from both sides (sf0.1 wall 16.7s → ~4s).

    Scale: per-term fanout bounded by (df_frac·N)² only for terms
    that survive the cap — in a real corpus those are the rare
    discriminative shingles; no cross join anywhere. The checkpoint
    is the capped posting list — the same relation the self-join
    must shuffle anyway, spilled to local disk if it exceeds memory.
    """
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    term = (spread_scan(docs)
            .select(F.col(id_col),
                    F.explode(word_shingles(
                        tokens(F.col(text_col)), n)).alias("_g"))
            .select(F.col(id_col), hash60(F.col("_g"), "tfc")
                    .alias("term_h")))
    wdf = Window.partitionBy("term_h")
    w = (term.withColumn("_df", F.count(F.lit(1)).over(wdf))
         .crossJoin(F.broadcast(n_docs))
         .select(F.col(id_col), "term_h", "_df", "n_docs",
                 (F.round(F.log(F.lit(1.0)
                                + F.col("n_docs") / F.col("_df")),
                          6) + F.lit(0.0)).alias("w")))
    small = (w.filter(F.col("_df") <= F.col("n_docs") * df_frac)
             .select(id_col, "term_h", "w")
             .localCheckpoint(eager=True))
    # fixed-point grid: w² on 1e-8, products on 1e-6 — BIGINT sums
    w2_int = F.round(F.col("w") * F.col("w") * 1e8, 0).cast("long")
    norms = (small.groupBy(id_col)
             .agg(F.sum(w2_int).alias("_s"))
             .select(F.col(id_col),
                     F.sqrt(F.col("_s").cast("double") / 1e8)
                     .alias("nrm")))
    a = small.select(F.col(id_col).alias("a_id"), "term_h",
                     F.col("w").alias("wa"))
    b = small.select(F.col(id_col).alias("b_id"), "term_h",
                     F.col("w").alias("wb"))
    prods = (a.join(b, "term_h")
             .filter(F.col("a_id") < F.col("b_id"))
             .select("a_id", "b_id",
                     F.round(F.col("wa") * F.col("wb") * 1e6, 0)
                     .cast("long").alias("_p")))
    pairs = (prods.groupBy("a_id", "b_id")
             .agg((F.sum("_p").cast("double") / 1e6).alias("dot")))
    na = norms.select(F.col(id_col).alias("a_id"),
                      F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("b_id"),
                      F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (pairs.join(na, "a_id").join(nb, "b_id")
            .select(F.col("a_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    (F.round(cos, 6) + F.lit(0.0)).alias("cosine"))
            .filter(F.col("cosine") >= threshold))
