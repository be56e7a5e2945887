"""Data-layout and runtime-filter operators: Z-order clustering and
an explicit Bloom-filter semi-join.

Both are 100 TB techniques made first-class and oracle-checkable:

* :func:`zorder_stats` is the OPTIMIZE ZORDER BY primitive — interleave
  the bits of two bucketed dimensions into a Morton code, range-split
  the table on that code, and report each split's bounding box. The
  payoff at scale is file skipping: a multidimensional predicate prunes
  every split whose box misses it, which a single-column sort can only
  do for its leading column. (Reference analogue: the archive layout in
  consumer.go partitions by product/date only — one dimension of
  pruning; Z-order gives both.)

* :func:`bloom_semi_join` spells out the runtime-filter pattern Spark's
  ``InjectRuntimeFilter`` applies behind the flag: aggregate the build
  side's join keys into a tiny bit array, broadcast it, drop probe rows
  whose key provably isn't present BEFORE the shuffle, then run the
  exact join on the survivors. False positives cost nothing (the exact
  join removes them); false negatives are structurally impossible, so
  the result is bit-identical to the plain join — which is exactly what
  the oracle checks.

All expressions are JVM-side bit arithmetic (shiftleft / shiftright /
bitwise and-or) — no UDFs, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import hash60

# ------------------------------------------------------------------ Z-order

ZBITS = 10          # bits per dimension -> 20-bit Morton code
ZSPLITS = 64        # range splits ("files") the layout produces


def _interleave(x: Column, y: Column, bits: int = ZBITS) -> Column:
    """Morton code: x's bit i lands at 2i+1, y's at 2i. Pure closed-form
    bit arithmetic, identical term-for-term in the SQL twin."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                            2 * i + 1) \
              + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                            2 * i)
    return z


def sql_interleave(x: str, y: str, bits: int = ZBITS) -> str:
    """DuckDB twin of :func:`_interleave`."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def zorder_stats(df: DataFrame, xb: Column, yb: Column,
                 tiebreak: Column, *, splits: int = ZSPLITS) -> DataFrame:
    """Z-order layout audit: cluster `df` by the Morton code of two
    bucketed dimensions and emit per-split bounding boxes.

    `xb` / `yb` must already be integer bucket ids in [0, 2^ZBITS);
    `tiebreak` is any unique column making the sort total (so the
    split assignment — and therefore the oracle comparison — is
    deterministic).

    Output per split: row count, [min,max] of each dimension. The
    bounding-box volume is what a query planner's min/max file stats
    prune against; the locality property test asserts the summed box
    area is a small fraction of splits × full-grid area.

    Scale: a naive ``ntile() OVER (ORDER BY z)`` is an unpartitioned
    window — Spark moves the WHOLE table to one partition. Instead the
    global rank is computed distributed with the salted-prefix-sum
    recipe (token_packing's): shard by the Morton code's high bits
    (shards are z-ordered by construction, so shard order ⊕ in-shard
    order IS the global order), rank locally per shard, add each
    shard's cumulative row offset (a ≤2^ZBITS-row aggregate), then map
    ranks to splits with ntile's closed-form boundary arithmetic —
    bit-identical to the oracle's single-node ntile, but the big table
    only ever shuffles by shard key.
    """
    z = _interleave(xb, yb)
    base = df.select(z.alias("z"), xb.alias("xb"), yb.alias("yb"),
                     tiebreak.alias("tb"))
    # top ZBITS bits of z -> up to 2^ZBITS z-contiguous shards
    base = base.withColumn("shard", F.shiftright("z", ZBITS))
    local = F.row_number().over(
        Window.partitionBy("shard").orderBy("z", "tb"))
    ranked = base.withColumn("lrank", local)
    sizes = base.groupBy("shard").agg(F.count(F.lit(1)).alias("cnt"))
    offs = sizes.select(
        "shard",
        F.coalesce(F.sum("cnt").over(
            Window.orderBy("shard")
            .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("off"))
    total = sizes.agg(F.sum("cnt").alias("n_total"))
    ranked = (ranked.join(F.broadcast(offs), "shard")
              .crossJoin(F.broadcast(total))
              .withColumn("rank", F.col("off") + F.col("lrank")))
    # ntile(P) closed form: the first r = N % P tiles hold q+1 rows
    # (q = N div P), the rest hold q; ceil-div via (a + b - 1) div b
    # (all terms positive)
    ranked = (ranked
              .withColumn("q", F.expr(f"n_total div {splits}"))
              .withColumn("r", F.col("n_total") - F.lit(splits) * F.col("q"))
              .withColumn("big", F.col("r") * (F.col("q") + 1))
              .withColumn("split_id", F.when(
                  F.col("rank") <= F.col("big"),
                  F.expr("(rank + q) div (q + 1)")).otherwise(
                  F.col("r") + F.expr("(rank - big + q - 1) div q"))
                  .cast("int")))
    return (ranked.groupBy("split_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("xb").alias("min_x"), F.max("xb").alias("max_x"),
                 F.min("yb").alias("min_y"), F.max("yb").alias("max_y"))
            .withColumn("box_area",
                        (F.col("max_x") - F.col("min_x") + 1)
                        * (F.col("max_y") - F.col("min_y") + 1)))


# ------------------------------------------------- Bloom-filter semi-join

BLOOM_BITS = 1 << 16     # 64 Kbit filter -> 1024 64-bit words
BLOOM_HASHES = 3


def _bloom_positions(key: Column) -> Column:
    """The k seeded bit positions of `key` (hash60 % m, like the
    seeded-minhash family)."""
    return F.array(*[
        F.pmod(hash60(key, f"bloom{i}"), F.lit(BLOOM_BITS))
        for i in range(BLOOM_HASHES)])


def bloom_build(build: DataFrame, key: Column) -> DataFrame:
    """Aggregate the build side's keys into a bit array: one row per
    64-bit word that has any bit set (word_idx, word). Never larger
    than 1024 rows regardless of build cardinality — broadcastable by
    construction."""
    pos = (build.select(F.explode(_bloom_positions(key)).alias("p"))
           .select(F.shiftright("p", 6).alias("word_idx"),
                   F.expr("shiftleft(CAST(1 AS BIGINT), "
                          "CAST(p & 63 AS INT))").alias("mask")))
    return pos.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_filter_rows(probe: DataFrame, build: DataFrame,
                      probe_key: str, build_key: str) -> DataFrame:
    """Stage 1 of :func:`bloom_semi_join`: drop probe rows whose key
    misses any of its k bloom bits. The word table folds into a
    SINGLE-ROW map (word_idx → word, ≤1024 entries ≈ 8 KB) that
    reaches the probe side through one broadcast-scalar cross-join —
    the same one-row-broadcast pattern every scalar-statistic join in
    this repo uses — after which the k membership probes are pure
    row-local bit arithmetic inside one codegen span. The probe side
    never shuffles, duplicates are preserved. May keep false
    positives; never drops a true match (a missing map entry means
    that word has no bits set, i.e. the key is provably absent)."""
    bloom = (bloom_build(build, F.col(build_key))
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("word_idx", "word")))
                 .alias("__bloom")))
    out = probe.crossJoin(F.broadcast(bloom))
    for i in range(BLOOM_HASHES):
        out = (out.withColumn(
                   f"__p{i}",
                   F.pmod(hash60(F.col(probe_key), f"bloom{i}"),
                          F.lit(BLOOM_BITS)))
               .filter(F.expr(
                   f"(coalesce(__bloom[shiftright(__p{i}, 6)], "
                   f"CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), "
                   f"CAST(__p{i} & 63 AS INT))) != 0"))
               .drop(f"__p{i}"))
    return out.drop("__bloom")


def bloom_semi_join(probe: DataFrame, build: DataFrame,
                    probe_key: str, build_key: str) -> DataFrame:
    """Exact semi-join with an explicit broadcast Bloom pre-filter.

    Stage 1 (:func:`bloom_filter_rows`) prunes the probe side with the
    broadcast bit array; stage 2 is the exact semi-join on the
    survivors — it removes bloom false positives, so the final result
    equals ``probe.join(build, on=key, "left_semi")`` exactly while
    the big-side shuffle (at 100 TB, the cost that matters) only
    carries rows that passed the filter.

    BUILD-SIDE CARDINALITY ASSUMPTION: the whole pattern presumes the
    build side's distinct keys fit in one executor/driver (that is
    what makes the Bloom bits broadcastable in stage 1), so stage 2
    leaves the join strategy to the planner rather than forcing a
    broadcast — under AQE the small distinct-key relation broadcasts
    anyway, and a build side that outgrows the threshold degrades to
    a shuffled semi-join instead of an OOM.
    """
    out = bloom_filter_rows(probe, build, probe_key, build_key)
    keys = build.select(F.col(build_key).alias(probe_key)).distinct()
    return out.join(keys, probe_key, "left_semi")
