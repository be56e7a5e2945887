#!/usr/bin/env python3
"""Scaling harness: wall time and output volume of the engine's
operator families against input multiples, kept in SCALING.md:

    python tools/scaling.py                   # head tables (1x/2x/4x, 10x)
    python tools/scaling.py tpch_decades ...  # the named 100x appendices

Every family runs the same steps: `replicate` the base tables into
`mult` transformed copies, materialize them (checkpointed in memory,
or written to a fresh /tmp parquet dir so the operators run from
fresh scans), time each operator with bench.py's action (`timed`),
render the cells as one markdown `table`, and `splice` the section
into SCALING.md between its markers, leaving every other byte of the
file as it was. The base tables come from $SPARK_GRAFT_SF_DIR.

The copy constructions are the point of each family:
- head corpus: id-shifted, token-perturbed copies that still
  cross-match, so near-dup cliques merge and true output grows
  super-linearly; wall should track output volume.
- token-DISJOINT corpus (scale/text/graph_decades): copy i appends an
  alpha suffix inside every [a-z]+ run, a bijective token renaming.
  Within-copy structure is preserved exactly, cross-copy Jaccard is
  ~0, so true output is ~mult x the 1x output and wall growth beyond
  ~mult is candidate-generation growth; the global vocabulary also
  grows ~mult x, the hostile direction for vocabulary-sized
  join-backs.
- sign-flip embeddings (ann_decades): a per-copy sign pattern over
  the dims is orthogonal, so within-copy neighbours are preserved and
  cross-copy cosines scramble to ~0. Ids interleave across copies
  (id * mult + copy) so id-seeded k-means seeds every copy. Partition
  counts scale the way production must: knn planes 4 + 4*log10(mult),
  semantic_dedup k = 8 * mult.
- key-offset copies (TPC-H, events, streaming): keys shift by a stride
  per copy and the time axis stays fixed, so joins match within a
  copy, selectivities are unchanged and output volume is linear;
  TPC-H nation/region stay fixed per the SF semantics.
- candles by product (forecast): KEY count scales, per-key series
  length does not.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import math
import os
import re
import shutil
import sys
import time
import types
import uuid
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from coinbase_data_pipeline_spark.functions.text import (  # noqa: E402
    hash60, token_set)
from coinbase_data_pipeline_spark.functions.timeutil import (  # noqa: E402
    epoch_seconds)
from coinbase_data_pipeline_spark.operators import ann as ANN  # noqa: E402
from coinbase_data_pipeline_spark.operators import corpus as CP  # noqa: E402
from coinbase_data_pipeline_spark.operators import dedup as DD  # noqa: E402
from coinbase_data_pipeline_spark.operators import forecast as FC  # noqa: E402
from coinbase_data_pipeline_spark.operators import (  # noqa: E402
    predictions as P)
from coinbase_data_pipeline_spark.operators import scoring as SC  # noqa: E402
from coinbase_data_pipeline_spark.operators import sketches as SK  # noqa: E402
from coinbase_data_pipeline_spark.operators import (  # noqa: E402
    textstats as TS)
from coinbase_data_pipeline_spark.operators import windows as WD  # noqa: E402
from coinbase_data_pipeline_spark.plans.catalog import candles  # noqa: E402
from coinbase_data_pipeline_spark.plans.catalog_stream import (  # noqa: E402
    _TMP_ROOT, _stamp_new_files, _write_ordered_buckets)
from coinbase_data_pipeline_spark.plans.registry import (  # noqa: E402
    ALL_QUERIES)
from coinbase_data_pipeline_spark.session import get_spark  # noqa: E402
from coinbase_data_pipeline_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR as SF_DIR, load_table)
from coinbase_data_pipeline_spark.streaming.pipelines import (  # noqa: E402
    run_file_dedup_watermark_pipeline, run_to_memory, streaming_kmv_sketch,
    streaming_sessionize)

SCALING_MD = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "SCALING.md")
MULTIPLES = (1, 2, 4)
# The 100-TB-critical LLM-dedup/ANN plans get a deeper 10x axis: their
# sub-quadratic claims (banded LSH buckets, Σn_c² cluster pair space,
# capped hot buckets) are measured, not argued, past the 4x corpus.
DEEP_MULT = 10
DEEP_OPS = ("dedup_minhash_lsh", "dedup_containment", "knn_graph",
            "semantic_dedup")
TPCH_MULTS = (1, 2, 4, 10)   # 10x of sf0.1 == the sf1 row volume


# ------------------------------------------------------------ mechanism

def replicate(df: DataFrame, mult: int,
              copy_fn: Callable[[DataFrame, int], DataFrame]) -> DataFrame:
    """Union of copy_fn(df, i) for i in 0..mult-1."""
    return functools.reduce(DataFrame.unionByName,
                            (copy_fn(df, i) for i in range(mult)))


def shifted(strides: dict[str, int]):
    """copy_fn adding i * stride to each key column; copy 0 is `df`."""
    return lambda df, i: (df.withColumns(
        {c: F.col(c) + i * s for c, s in strides.items()}) if i else df)


def _stride(df: DataFrame, key: str) -> int:
    """One past the table's max key; an empty table fails loudly."""
    mx = df.agg(F.max(key)).collect()[0][0]
    if mx is None:
        raise RuntimeError(f"probe input table for {key} is empty")
    return mx + 1


@contextlib.contextmanager
def materialized(tag: str, tables: dict[str, DataFrame]):
    """Write each table as parquet under a fresh /tmp dir (key '' is
    the dir itself) and yield the dir; it is deleted on exit, on error
    too, so a failed write leaks no partial dir."""
    out = os.path.join("/tmp", f"{tag}-{uuid.uuid4().hex[:8]}")
    try:
        for name, df in tables.items():
            df.write.parquet(os.path.join(out, name))
        yield out
    finally:
        shutil.rmtree(out, ignore_errors=True)


def timed(build: Callable[[], DataFrame],
          vol: str | None = None) -> tuple[float, int]:
    """bench.py's action: count plus bit_xor(xxhash64) of every column.
    A bare count() lets Catalyst ELIMINATE non-duplicating left joins
    and unreferenced projections (dedup_spans timed 0.2s under count()
    vs ~6s real); hashing every column forces full evaluation. Returns
    (wall seconds including the build, volume), the volume being the
    SQL aggregate `vol` or, by default, the row count."""
    t0 = time.time()
    df = build()
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
                 F.expr(vol or "count(1)").alias("vol")).collect()[0]
    return time.time() - t0, int(row["vol"])


def table(head: str, cols: list[str], rows: list[list[str]]) -> list[str]:
    return (["| " + " | ".join([head, *cols]) + " |",
             "|---|" + "---|" * len(cols)]
            + ["| " + " | ".join(r) + " |" for r in rows])


def splice(text: str, marker: str | None, block: str) -> str:
    """Put `block` (which carries its own markers) in place of the
    `<!-- marker:start -->`…`<!-- marker:end -->` block of `text`, or
    append it when absent. marker None replaces the head: everything
    before the first appendix. Every other byte is kept."""
    if marker is None:
        first = re.search(r"<!-- [a-z_]+:start -->", text)
        return block + "\n" + ("\n" + text[first.start():] if first else "")
    start, end = f"<!-- {marker}:start -->", f"<!-- {marker}:end -->"
    if start not in text:
        return (text.rstrip() + "\n\n" if text.strip() else "") + block + "\n"
    i = text.index(start)
    return text[:i] + block + text[text.index(end, i) + len(end):]


def write_section(marker: str | None, lines: list[str]) -> None:
    text = ""
    if os.path.exists(SCALING_MD):
        with open(SCALING_MD) as f:
            text = f.read()
    with open(SCALING_MD, "w") as f:
        f.write(splice(text, marker, "\n".join(lines)))


# ------------------------------------------------------------ specs

@dataclasses.dataclass
class Op:
    name: str
    build: Callable            # (input, mult) -> DataFrame
    vol: str | None = None     # SQL volume aggregate; None = row count
    note: str | Callable[[int], str] = ""   # cell note, or mult -> note
    cap: int | None = None     # largest multiple the op runs at
    row: bool = True           # False: measured for the footer only


@dataclasses.dataclass
class Group:
    inputs: Callable   # (spark, mult) -> context manager yielding the input
    ops: list[Op]
    cell: str = "{wall:.1f}s ({vol:,} rows{ratio})"


@dataclasses.dataclass
class Family:
    title: str
    prose: list[str]
    groups: list[Group]
    footer: list[str] | Callable[[dict], list[str]] = ("",)
    head: str = "operator"
    ratio: str = ", {wall_x:.1f}x wall"
    mults: tuple[int, ...] = (1, 10, 100)
    rows: Callable | None = None   # (spark, mults) -> rows; no timed ops


def run(spark, group: Group, mults, only=None) -> dict:
    """{op: {mult: (wall, volume)}} over the group's ops."""
    ops = [op for op in group.ops if only is None or op.name in only]
    res: dict[str, dict] = {op.name: {} for op in ops}
    for mult in mults:
        with group.inputs(spark, mult) as inp:
            for op in ops:
                if op.cap is not None and mult > op.cap:
                    continue
                res[op.name][mult] = timed(
                    lambda: op.build(inp, mult), op.vol)
                wall, vol = res[op.name][mult]
                print(f"# {mult}x {op.name}: {wall:.1f}s ({vol:,})",
                      flush=True)
    return res


def decade_rows(spark, fam: Family) -> tuple[list[list[str]], dict]:
    rows, res = [], {}
    for g in fam.groups:
        res.update(run(spark, g, fam.mults))
        for op in g.ops:
            w0, v0 = res[op.name][fam.mults[0]]
            cells = []
            for m in fam.mults:
                wall, vol = res[op.name][m]
                cells.append(g.cell.format(
                    wall=wall, vol=vol,
                    note=op.note(m) if callable(op.note) else op.note,
                    ratio="" if m == fam.mults[0] else fam.ratio.format(
                        wall_x=wall / w0, vol_x=vol / max(1, v0))))
            if op.row:
                rows.append([op.name, *cells])
    return rows, res


def sec_rows(res: dict, mults, ratio: str,
             missing: str = "—") -> list[list[str]]:
    """Head-table rows: 'sec (volume)' cells plus a highest/lowest
    probed multiple wall ratio."""
    rows = []
    for name, by_mult in res.items():
        probed = [m for m in mults if m in by_mult]
        lo, hi = probed[0], probed[-1]
        rows.append([name, *(f"{by_mult[m][0]:.1f} ({by_mult[m][1]:,})"
                             if m in by_mult else missing for m in mults),
                     ratio.format(x=by_mult[hi][0] / by_mult[lo][0],
                                  hi=hi, lo=lo)])
    return rows


def section(title: str, prose: list[str], tab: list[str],
            cores: int) -> list[str]:
    return [title, "", *(p.format(cores=cores) for p in prose), "", *tab]


# ------------------------------------------------------------ inputs

def _alpha_suffix(i: int) -> str:
    """Copy index -> pure-alpha tag (tokenizer keeps only [a-z]+)."""
    s, i = "", i + 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("a") + r) + s
    return "q" + s


@contextlib.contextmanager
def corpus_copies(spark, mult):
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    emb = load_table(spark, SF_DIR, "embeddings")
    ne = emb.count()

    def doc_copy(df, i):
        # perturb the copy so it dedups against itself but not
        # trivially against every other copy (suffix token)
        return df.select(
            (F.col("doc_id") + i * n).alias("doc_id"),
            F.concat("text", F.lit(f" copymark{i}")).alias("text"),
            "lang", "source", "n_chars") if i else df

    def vec_copy(df, i):
        # deterministic per-component perturbation: scaling alone
        # would leave cosine exactly 1 and blow up the top-k cliques
        vec = F.col("embedding").cast("array<double>")
        if i:
            vec = F.transform(
                vec, lambda x, j: x + ((j % 7) - 3) * (0.001 * i))
        return df.select((F.col("vec_id") + i * ne).alias("vec_id"),
                         vec.alias("embedding"))

    yield types.SimpleNamespace(
        docs=replicate(docs, mult, doc_copy).localCheckpoint(eager=True),
        vecs=replicate(emb, mult, vec_copy).localCheckpoint(eager=True))


@contextlib.contextmanager
def disjoint_docs(spark, mult):
    """Token-disjoint copies; copy 0 is salted too, so every multiple
    runs the same text shape and the 1x cell is comparable."""
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    u = replicate(docs, mult, lambda df, i: df.select(
        (F.col("doc_id") + i * n).alias("doc_id"),
        F.regexp_replace("text", "([a-z]+)", "$1" + _alpha_suffix(i))
        .alias("text"),
        "lang", "source", "n_chars"))
    with materialized(f"decades-{mult}x",
                      {"": u.repartition(max(4, mult // 4))}) as d:
        yield spark.read.parquet(d)


@contextlib.contextmanager
def signflip_vecs(spark, mult):
    """Sign-flip copies (xxhash64(copy, dim) parity); copy 0 gets a
    pattern too, so the 1x cell runs the same transformed shape."""
    def flip(df, i):
        vec = F.transform("embedding", lambda x, j: x * (
            F.lit(1.0) - F.lit(2.0) * (
                F.abs(F.xxhash64(F.lit(i), j)) % F.lit(2)).cast("double")))
        return df.select((F.col("vec_id") * mult + i).alias("vec_id"),
                         vec.cast("array<float>").alias("embedding"),
                         "label")
    u = replicate(load_table(spark, SF_DIR, "embeddings"), mult, flip)
    with materialized(f"ann-decades-{mult}x",
                      {"": u.repartition(max(4, mult // 4))}) as d:
        yield spark.read.parquet(d)


@contextlib.contextmanager
def tpch_dir(spark, mult):
    """Referentially-consistent mult x TPC-H dir: per-copy key offsets
    (one past each table's max key), nation and region fixed."""
    t = {n: load_table(spark, SF_DIR, n)
         for n in ("lineitem", "orders", "customer", "supplier",
                   "part", "nation", "region")}
    ok = _stride(t["orders"], "o_orderkey")
    ck = _stride(t["customer"], "c_custkey")
    sk = _stride(t["supplier"], "s_suppkey")
    pk = _stride(t["part"], "p_partkey")
    keys = {"lineitem": {"l_orderkey": ok, "l_partkey": pk,
                         "l_suppkey": sk},
            "orders": {"o_orderkey": ok, "o_custkey": ck},
            "customer": {"c_custkey": ck},
            "supplier": {"s_suppkey": sk},
            "part": {"p_partkey": pk}}
    with materialized(f"tpch-probe-{mult}x", {
            f"{n}.parquet": (replicate(df, mult, shifted(keys[n]))
                             if n in keys else df)
            for n, df in t.items()}) as d:
        yield d


@contextlib.contextmanager
def events_dir(spark, mult):
    """Key-offset events written as TIMESTAMP(us) parquet in an sf_dir
    layout; load_table skips the ts_nanos conversion for it."""
    ev = load_table(spark, SF_DIR, "events").drop("ts_nanos")
    u = replicate(ev, mult, shifted({"event_id": _stride(ev, "event_id"),
                                     "user_id": _stride(ev, "user_id")}))
    with materialized(f"events-decades-{mult}x", {
            "events.parquet": u.repartition(max(4, mult // 4))}) as d:
        yield d


@contextlib.contextmanager
def candle_copies(spark, mult):
    yield replicate(candles(spark, SF_DIR), mult, lambda df, i: df.withColumn(
        "product_id", F.concat("product_id", F.lit(f"#{i}"))) if i else df
    ).localCheckpoint(eager=True)


def registry_op(name: str) -> Op:
    """A catalog query run exactly as the registry serves it, from
    fresh parquet scans of the materialized dir."""
    return Op(name, lambda d, m: ALL_QUERIES[name](SparkSession.active(), d))


def stream_state(spark, mult: int) -> dict[str, tuple]:
    """Replay the event stream at `mult` x and read the per-micro-batch
    stateOperators progress. Returns {query: (input_rows, batches,
    peak_state_rows, rows_removed)}.

    - streaming_kmv: ONE k-min sketch row per day — peak stays equal
      to the day count at every multiple.
    - streaming_sessionize_watermark: one row per OPEN session — peak
      tracks live users (x mult), and the event-time timeout flush
      REMOVES every row.
    - streaming_dedup_watermark: one row per key inside the watermark
      window — peak tracks keys (x mult). Removed stays 0 BY DESIGN
      (the replay keeps every key in-window to match the exactness
      oracle); eviction is pytest-gated
      (test_streaming_dedup_watermark_evicts_state).
    """
    base = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id")
    ev = replicate(base, mult, shifted(
        {"user_id": 10_000_000, "event_id": 1_000_000_000})
    ).localCheckpoint(eager=True)
    n_in = ev.count()

    def summarize(prog: list) -> tuple[int, int, int]:
        batches, peak, removed = 0, 0, 0
        for p in prog:
            ops = p.get("stateOperators") or []
            if not ops:
                continue
            batches += 1
            peak = max(peak, max(o.get("numRowsTotal", 0) for o in ops))
            removed += sum(o.get("numRowsRemoved", 0) for o in ops)
        return batches, peak, removed

    def bucketed_replay(replay):
        """events -> 2 ordered time-half bucket files + far-future
        sentinel file (the catalog harness shape)."""
        bounds = ev.agg(epoch_seconds(F.min("ts")).alias("t0"),
                        (epoch_seconds(F.max("ts")) + 1.0).alias("t1"))
        bucketed = (ev.crossJoin(F.broadcast(bounds))
                    .withColumn("bucket", F.floor(
                        2 * (epoch_seconds(F.col("ts")) - F.col("t0"))
                        / (F.col("t1") - F.col("t0"))))
                    .select("user_id", "ts", "bucket"))
        _write_ordered_buckets(bucketed, "bucket", replay, 2)
        stamped = {os.path.join(replay, f) for f in os.listdir(replay)}
        sentinel = ev.agg(F.lit(-1).cast("long").alias("user_id"),
                          (F.max("ts") + F.expr("INTERVAL 30 DAYS"))
                          .alias("ts"))
        sentinel.coalesce(1).write.mode("append").parquet(replay)
        _stamp_new_files(replay, stamped, 10, ".parquet")
        return (spark.readStream.schema("user_id long, ts timestamp")
                .option("maxFilesPerTrigger", 1).parquet(replay))

    def kmv(replay, prog):
        hashed = bucketed_replay(replay).select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            hash60(F.col("user_id").cast("string"), "kmv").alias("h"),
            "ts")
        run_to_memory(streaming_kmv_sketch(hashed, k=64, watermark="1 hour"),
                      output_mode="append", progress_out=prog)

    def sessions(replay, prog):
        run_to_memory(streaming_sessionize(bucketed_replay(replay),
                                           gap_minutes=30,
                                           watermark="1 minute"),
                      output_mode="append", progress_out=prog)

    def dedup(replay, prog):
        t = ev.select("event_id", "ts")
        t.unionAll(t).repartition(4).write.mode("overwrite").json(replay)
        run_file_dedup_watermark_pipeline(
            spark, replay, schema="event_id long, ts timestamp",
            key_cols=["event_id"], ts_col="ts", delay="2160 hours",
            max_files=2, progress_out=prog)

    out: dict[str, tuple] = {}
    for name, replay_fn in (("streaming_kmv", kmv),
                            ("streaming_sessionize_watermark", sessions),
                            ("streaming_dedup_watermark", dedup)):
        replay = os.path.join(_TMP_ROOT, f"probe-{uuid.uuid4().hex[:8]}")
        prog: list = []
        try:
            replay_fn(replay, prog)
        finally:
            shutil.rmtree(replay, ignore_errors=True)
        out[name] = (n_in, *summarize(prog))
    return out


def bucket_join_rows(docs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """The length-bucket join dedup_ngram_jaccard used BEFORE r12 (pre
    a<b / size-ratio filters), from the token-set-size histogram: the
    b side exploded each doc to buckets {k-2..k+2}, so the join emits
    n(k) * n(j) rows for every |j - k| <= 2; sum(rows) is that
    candidate volume exactly — the ~mult^2 curve that made the old
    plan candidate-bound and motivated the prefix-prefix rewrite."""
    inv_width = 1.0 / math.log(1.0 / threshold)
    hist = (docs.select(F.size(token_set("text")).alias("n"))
            .filter(F.col("n") > 0)
            .select(F.floor(F.log(F.col("n").cast("double"))
                            * F.lit(inv_width)).cast("long").alias("bk"))
            .groupBy("bk").agg(F.count(F.lit(1)).alias("c")))
    a, b = hist.alias("a"), hist.alias("b")
    return (a.join(b, F.abs(F.col("a.bk") - F.col("b.bk")) <= 2)
            .select((F.col("a.c") * F.col("b.c")).alias("rows")))


# ------------------------------------------------------------ families

def _scored(c):
    return (SC.score_windows(WD.sliding_windows(c))
            .withColumn("predicted_price",
                        F.round("predicted_price", 6) + F.lit(0.0))
            .withColumn("target_time",
                        F.expr("timestampadd(MINUTE, 5 * horizon, "
                               "origin_time)")))


CORPUS = Group(corpus_copies, [
    Op("dedup_minhash_lsh", lambda c, m: DD.minhash_lsh_pairs(c.docs)),
    Op("dedup_ngram_jaccard", lambda c, m: DD.ngram_jaccard_pairs(c.docs)),
    Op("dedup_simhash_pairs", lambda c, m: DD.simhash_pairs(c.docs)),
    Op("dedup_components", lambda c, m: DD.connected_components(
        DD.minhash_lsh_pairs(c.docs, link_capped=True))),
    Op("dedup_containment", lambda c, m: DD.containment_pairs(c.docs)),
    Op("dedup_tfidf_cosine", lambda c, m: DD.tfidf_cosine_pairs(c.docs)),
    Op("knn_graph", lambda c, m: ANN.knn_graph(c.vecs)),
    # SemDeDup's published scale contract: cluster count GROWS with
    # the corpus (~100k clusters at web scale), keeping the
    # within-cluster pair space Σn_c² ≈ n²/k linear in n — so the
    # probe scales k with the multiple, exactly what a deployment
    # would tune
    Op("semantic_dedup", lambda c, m: DD.semantic_dedup_pairs(
        c.vecs, k=8 * m, iterations=2, threshold=0.4)),
    Op("bpe_train", lambda c, m: CP.bpe_train(c.docs)),
    Op("quality_classifier", lambda c, m: TS.quality_classifier(c.docs)[1]),
    # doc_pagerank's output is node-sized regardless of input, so its
    # volume signal is the EDGE count (the per-round message shuffle
    # volume) — wall should track edges, not nodes
    Op("doc_pagerank", lambda c, m: DD.doc_pagerank(c.docs),
       vol="sum(degree)"),
    # graph_triangles: the probe corpus multiplies near-dup CLIQUES,
    # and the perturbed copies still cross-match at jaccard 0.9, so
    # cliques MERGE and triangle COUNT grows ~cubically by
    # construction (306M at 1x, ~2.4B at 2x, ~20B at 4x). That makes
    # this row a test that wall tracks OUTPUT volume (the
    # sum-of-triangles column, an exact enumerator's Ω floor) rather
    # than candidate space — the plan-quality evidence stays the
    # degree-ordered orientation (O(m^1.5) wedge bound,
    # operators/dedup.py). The 4x cell is capped out: ~20B triangles
    # is pure output volume, and enumerating it teaches nothing the 2x
    # cell's ~8x-output point doesn't.
    Op("graph_triangles", lambda c, m: DD.graph_triangles(c.docs),
       vol="sum(triangles)", cap=2),
    Op("dedup_spans", lambda c, m: DD.repeated_spans(c.docs)),
    # pmi_collocations output is a fixed top-100, so its volume signal
    # is the surviving heavy-bigram mass (sum c_ab) — wall should track
    # the tokenize+count scan, i.e. input size
    Op("pmi_collocations", lambda c, m: TS.pmi_collocations(
        c.docs, min_count=5, top_n=100), vol="sum(c_ab)"),
    # heavy_hitters_cms: hitter COUNT is ~input-invariant (shares
    # don't change when the corpus is replicated); the volume signal is
    # the hitters' total count mass, which scales with input — wall
    # should track the token scan + d×w grid, never the vocabulary
    # pair space
    Op("heavy_hitters_cms", lambda c, m: SK.cms_heavy_hitters(c.docs),
       vol="sum(n)"),
])
# token_packing's salted prefix sum is deliberately NOT probed: at
# local corpus sizes (≤20k docs) both formulations are sub-second and
# the salt reads as pure overhead — the single-stratum serialization it
# removes only bites at ~1e8+ rows per stratum. Its scale evidence is
# the plan-shape audit (tests/test_plans.py::
# test_token_packing_salted_plan) plus the salt-count invariance
# property test.

CANDLES = Group(candle_copies, [
    Op("holt_param_sweep", lambda c, m: FC.holt_grid_sweep(c),
       vol="sum(n_eval)"),
    Op("model_metrics", lambda c, m: P.model_metrics(_scored(c), c),
       vol="sum(sample_count)"),
], cell="{wall:.1f}s ({vol:,}{ratio})")

TPCH = Group(tpch_dir, [registry_op(q) for q in (
    "q5_local_supplier", "q8_market_share", "q9_product_profit",
    "q21_suppliers_kept_waiting")])

# Fixed bm25 query set, phrased in the COPY-0 token space (every
# [a-z]+ run gets suffix "qa" there): output constant across mults.
BM25_Q = [(1, "dataqa vectorqa sparkqa"),
          (2, "tableqa scanqa columnqa"),
          (3, "joinqa streamqa windowqa")]


def _planes(mult: int) -> int:
    return 4 + 4 * round(math.log10(mult))


def ann_footer(res: dict) -> list[str]:
    """ann_decades' footer; its ratios are the top multiple's over 1x."""
    def ratios(op):
        by = res[op]
        lo, hi = min(by), max(by)
        return by[hi][0] / by[lo][0], by[hi][1] / max(1, by[lo][1]), hi

    sem_wall, sem_rows, hi = ratios("semantic_dedup")
    knn_wall = ratios("knn_graph")[0]
    return [
        "",
        "semantic_dedup's rows ratio exceeds mult because \"scramble to",
        "~0\" has a noise floor: a sign-flip cosine at dim 64 is a",
        "zero-mean sum whose tail mass above the probe's 0.4 threshold",
        "is small but nonzero per pair, and the within-cluster pair",
        "space it is screened against grows ~linearly with n — so",
        "cross-copy coincidence pairs (real cosines >= 0.4 of the",
        "TRANSFORMED corpus, not false positives of the operator)",
        f"come to dominate its output at {hi}x. Wall tracks that output",
        f"({sem_wall:.0f}x wall / {sem_rows:.0f}x rows = per-pair cost "
        "still FALLING), which",
        "is the sub-quadratic signal; knn_graph, whose top-k-per-vector",
        "output is pinned to exactly mult x rows, is the clean",
        f"candidate-generation reading: {knn_wall:.1f}x wall at {hi}x data.",
        "",
    ]


FAMILIES: dict[str, Family] = {
    # dedup_minhash_lsh / containment: content-keyed buckets and
    # prefix keys land disjoint copies in disjoint buckets — wall
    # ~linear; quadratic wall would mean keys collide corpus-wide.
    "scale_decades": Family(
        "## Two-decade corpus curve (1x/10x/100x disjoint copies — "
        "VERDICT r11 #6)", [
            "100x of sf0.1 documents = ~500k docs, the sf1-scale corpus.",
            "Copies here are token-DISJOINT (per-copy alpha suffix inside",
            "every [a-z]+ run — a bijective token renaming), unlike the",
            "cross-matching replicas above: true pair output is exactly",
            "mult x the 1x output (minhash_lsh's is ~mult x: renamed",
            "tokens re-roll its probabilistic band recall per copy, a",
            "sub-1% wobble), so wall growth beyond ~mult isolates",
            "CANDIDATE-GENERATION growth. Sub-quadratic means the 100x",
            "wall ratio sits near 100x (linear), not (100x)^2.",
            "dedup_ngram_jaccard is the EXACT method, prefix-prefix",
            "filtered since r12 — before that its candidates came from a",
            "content-blind length-bucket join whose exact analytic row",
            "count (from the size histogram) is the ~mult^2 line below",
            "the table: the curve that made the old plan candidate-bound",
            "at two decades and motivated the rewrite.",
            "Single-run wall, local[{cores}]; fresh parquet scans from /tmp.",
        ], [Group(disjoint_docs, [
            Op("bucket_join_rows", lambda d, m: bucket_join_rows(d),
               vol="coalesce(sum(rows), 0)", row=False),
            Op("dedup_minhash_lsh", lambda d, m: DD.minhash_lsh_pairs(d)),
            Op("dedup_containment", lambda d, m: DD.containment_pairs(d)),
            Op("dedup_ngram_jaccard",
               lambda d, m: DD.ngram_jaccard_pairs(d)),
        ], cell="{wall:.1f}s ({vol:,}){ratio}")],
        footer=lambda res: [
            "",
            "Replaced (pre-r12) length-bucket candidate rows (analytic, "
            "exact): " + ", ".join(
                f"{m}x = {v:,}" for m, (_, v)
                in res["bucket_join_rows"].items())
            + " — the ~mult^2 curve the prefix rewrite eliminated."]),
    "ann_decades": Family(
        "## Two-decade embedding curve (1x/10x/100x sign-flip copies)", [
            "100x of sf0.1 embeddings = 200k vectors. Copies are",
            "SKETCH-DISJOINT: each applies a deterministic per-copy",
            "sign-flip pattern over the 64 dims — an orthogonal transform,",
            "so within-copy neighbor structure is preserved exactly while",
            "cross-copy cosines scramble to ~0 and hyperplane buckets",
            "re-roll per copy; true output is ~mult x and wall growth",
            "beyond ~mult isolates candidate generation (the embedding",
            "analogue of the token-disjoint corpus below). Parameters",
            "scale the way production must — knn_graph's bucket space",
            "2^planes tracks n (planes 4/8/12: constant per-bucket",
            "occupancy), semantic_dedup's cluster count k = 8*mult keeps",
            "the SemDeDup pair space Sum n_c^2 ~ n*(n/k) linear (the",
            "paper's ~100k clusters at web scale is this same rule);",
            "ann_ivf holds lists fixed as the contrast line (its",
            "candidate set is nprobe/lists of the corpus — linear by",
            "construction). Single-run wall, local[{cores}], fresh /tmp scans.",
        ], [Group(signflip_vecs, [
            Op("knn_graph",
               lambda e, m: ANN.knn_graph(e, planes=_planes(m)),
               note=lambda m: f"planes={_planes(m)}"),
            Op("semantic_dedup", lambda e, m: DD.semantic_dedup_pairs(
                e, k=8 * m, threshold=0.4), note=lambda m: f"k={8 * m}"),
            Op("ann_ivf", lambda e, m: ANN.ivf_topk(
                e, e.filter(F.col("vec_id") < F.lit(64 * m))
                .filter(F.col("vec_id") % F.lit(m) == 0)),
               note="64 queries, fixed lists"),
        ], cell="{wall:.1f}s ({vol:,}; {note}{ratio})")],
        footer=ann_footer,
        ratio=", {wall_x:.1f}x wall / {vol_x:.1f}x rows"),
    # bm25's fixed query set keeps its output constant (the contrast
    # line); cms's sketch grid is fixed 4x4096 (flat state); bpe runs
    # `merges` global pair-count rounds.
    "text_decades": Family(
        "## Two-decade text-analysis curve (1x/10x/100x disjoint copies)", [
            "Token-disjoint copies (the scale_decades construction): the",
            "global vocabulary grows ~mult x — the hostile direction for",
            "this family, whose df/unigram/vocab join-backs are",
            "vocabulary-sized relations a static planner is tempted to",
            "broadcast from compressed-text estimates (the defect class",
            "the containment probe caught at 500k docs). bm25's query set",
            "is fixed in the copy-0 token space, so its output is constant",
            "and its line isolates corpus-statistics cost; cms's sketch",
            "grid is fixed 4x4096 at every scale (flat state is the",
            "sketch's contract; its output can SHRINK as per-copy token",
            "shares fall below min_share of the growing stream).",
            "Single-run wall, local[{cores}], fresh /tmp scans. The 1x cells",
            "pay the session's first-touch JIT for this operator family",
            "(hence several sub-1.0x 10x ratios); read the 100x column",
            "against the 10x one for the clean slope.",
        ], [Group(disjoint_docs, [
            Op("tfidf_top_terms", lambda d, m: TS.tfidf_top_terms(
                d, top_n=3), note="top 3/doc"),
            Op("bm25_search", lambda d, m: TS.bm25_search(
                d, d.sparkSession.createDataFrame(
                    BM25_Q, ["query_id", "query_text"]), top_n=10),
               note="3 fixed copy-0 queries"),
            Op("pmi_collocations", lambda d, m: TS.pmi_collocations(
                d, min_count=5, top_n=100), note="top 100"),
            Op("cms_heavy_hitters", lambda d, m: SK.cms_heavy_hitters(
                d, d=4, w=4096, min_share=0.002), note="4x4096 grid"),
            Op("bpe_train", lambda d, m: CP.bpe_train(d, merges=6),
               note="6 merges"),
        ], cell="{wall:.1f}s ({vol:,}; {note}{ratio})")]),
    # The 100x hazards beyond the head's 10x cells: build sides AQE
    # broadcast at sf1 outgrowing the threshold at sf10 (the plan must
    # flip to shuffle joins without a cliff), and 32 static shuffle
    # partitions holding ~2M lineitem rows each.
    "tpch_decades": Family(
        "## Two-decade TPC-H curve (1x/10x/100x = SF10 row volume)", [
            "The four heaviest join pipelines on referentially-consistent",
            "key-offset multiples (head-table materializer; joins match",
            "within a copy, selectivities unchanged, result volume",
            "linear), run exactly as the registry serves them from fresh",
            "parquet scans — 100x is 60M lineitem rows, the SF10 volume,",
            "on local[{cores}] with 32 static shuffle partitions (~2M",
            "lineitem rows each): AQE's runtime broadcast demotion and",
            "partition coalescing are what is being measured. A",
            "super-linear knee would mean a build side outgrew its",
            "broadcast threshold without a clean flip to a shuffle join,",
            "or shuffle partitions spilled unboundedly. Single-run wall;",
            "the 1x cells pay session JIT.",
        ], [TPCH], head="query"),
    # 100x hazards: the shuffle feeding the per-user windows carries
    # 10M rows (an unpartitioned ORDER BY would knee); rfm's threshold
    # join-back must not flip to a corpus-side broadcast; forecast
    # keys go 9 -> 900, the applyInPandas many-small-groups regime.
    "events_decades": Family(
        "## Two-decade events-analytics + forecast curve (1x/10x/100x)", [
            "Events replicate with per-copy user_id/event_id offsets and",
            "the time axis fixed (distinct keys scale, the clock does",
            "not) — per-user behavior is preserved exactly, so output",
            "volume is linear by construction and wall growth beyond",
            "~mult is plan overhead, not data artifact. 100x = 10M",
            "events / 150k users; the per-user windows behind",
            "sessionize/funnel/paths stay user-sized, the shuffle feeding",
            "them carries the full stream. Forecast rows replicate the",
            "candle relation by PRODUCT (9 -> 900 keys at 100x, far past",
            "the {cores} cores — the applyInPandas many-small-groups regime",
            "the 4x table never reached). Single-run wall, local[{cores}],",
            "fresh /tmp scans; 1x cells pay session JIT.",
        ], [Group(events_dir, [registry_op(q) for q in (
            "sessionize", "funnel", "retention_cohorts", "event_paths",
            "rfm_scores")]),
            dataclasses.replace(CANDLES, ops=[
                dataclasses.replace(op, name=f"{op.name} (keys x mult)")
                for op in CANDLES.ops])],
        head="query"),
    # kmv's sketch must stay flat at 150k users; sessionize's flush
    # must still drain every open session; dedup_watermark's 100x cell
    # is a deliberate 10M-row state-store stress (~1 GB
    # HDFSBackedStateStore) that must survive snapshot/commit.
    "stream_decades": Family(
        "## Two-decade streaming-state curve (1x/10x/100x events)", [
            "The bounded-state claims at 10M events (cells read in-rows →",
            "peak/removed state rows; same construction as the 1x–10x",
            "table above — key-offset copies, fixed time axis, constant",
            "micro-batch count with per-batch volume scaling). kmv's",
            "sketch row count must stay FLAT while 150k distinct users",
            "flow through; sessionize's timeout flush must still drain",
            "every open-session row (removed == peak);",
            "dedup_watermark's 100x cell is a deliberate 10M-row",
            "state-store stress (state linear in keys BY DESIGN of the",
            "exactness replay — eviction is pytest-gated separately).",
        ], [], head="query",
        rows=lambda spark, mults: stream_rows(
            spark, mults, "{0:,} → {2:,}/{3:,} ({1} batches)")),
    # components: pointer-jumping rounds are a within-copy constant,
    # so wall should track edges; pagerank: 3 fixed iterations over
    # ~mult x edges; exact triangles are output-bound, DOULION p=0.5
    # shows what sampling buys.
    "graph_decades": Family(
        "## Two-decade graph-operator curve (1x/10x/100x disjoint copies)", [
            "Components / PageRank / triangles over the near-dup pair",
            "graph of the token-disjoint corpus (500k docs at 100x): the",
            "graph is exactly mult disjoint copies of the 1x graph, so",
            "diameter — and with it the pointer-jumping round count and",
            "the fixed 3 PageRank iterations — is a within-copy constant,",
            "and wall should track EDGE volume (~mult x). Exact triangle",
            "enumeration materializes every triangle (output-bound);",
            "DOULION p=0.5 beside it shows what hash-coin edge sampling",
            "buys at the decade. Single-run wall, local[{cores}], fresh /tmp",
            "scans; 1x cells pay session JIT.",
        ], [Group(disjoint_docs, [
            Op("dedup_components", lambda d, m: DD.connected_components(
                DD.minhash_lsh_pairs(d, link_capped=True))),
            Op("doc_pagerank", lambda d, m: DD.doc_pagerank(
                d, iterations=3, damping=0.85)),
            Op("graph_triangles", lambda d, m: DD.graph_triangles(d)),
            Op("graph_triangles_doulion",
               lambda d, m: DD.graph_triangles_doulion(d, sample_p=0.5)),
        ])]),
}


def stream_rows(spark, mults, cell: str) -> list[list[str]]:
    res = {m: stream_state(spark, m) for m in mults}
    return [[name, *(cell.format(*res[m][name]) for m in mults)]
            for name in res[mults[0]]]


# ------------------------------------------------------------ sections

def appendix(spark, marker: str, cores: int) -> list[str]:
    fam = FAMILIES[marker]
    if fam.rows is not None:
        rows, res = fam.rows(spark, fam.mults), {}
    else:
        rows, res = decade_rows(spark, fam)
    footer = fam.footer(res) if callable(fam.footer) else list(fam.footer)
    return [f"<!-- {marker}:start -->",
            *section(fam.title, fam.prose,
                     table(fam.head, [f"{m}x" for m in fam.mults], rows),
                     cores),
            *footer, f"<!-- {marker}:end -->"]


def head(spark, cores: int) -> list[str]:
    corpus = run(spark, CORPUS, MULTIPLES)
    deep = run(spark, CORPUS, (DEEP_MULT,), only=DEEP_OPS)
    stream_mults = MULTIPLES + (DEEP_MULT,)
    stream = stream_rows(spark, stream_mults, "{0:,} → {2:,}/{3:,}")
    candles = run(spark, CANDLES, MULTIPLES)
    tpch = run(spark, TPCH, TPCH_MULTS)
    deep_mults = (MULTIPLES[0], MULTIPLES[-1], DEEP_MULT)
    sec_cols = [f"{m}x sec (volume)" for m in MULTIPLES] + ["max/1x"]
    sections = [
        section("# SCALING — heavy-operator wall time vs corpus size",
                HEAD_PROSE, table("operator", sec_cols, sec_rows(
                    corpus, MULTIPLES, "{x:.1f}x ({hi}x/{lo}x)",
                    "— (capped)")), cores),
        section(f"## LLM-dedup/ANN family at {DEEP_MULT}x docs "
                "(sub-quadratic evidence)", DEEP_PROSE, table(
                    "operator",
                    [f"{m}x sec (volume)" for m in deep_mults]
                    + [f"{DEEP_MULT}x/1x wall"],
                    sec_rows({n: {**corpus[n], **deep[n]} for n in DEEP_OPS},
                             deep_mults, "{x:.1f}x")), cores),
        section("## Streaming state-size curve (bounded-state evidence)",
                STREAM_PROSE, table(
                    "query",
                    [f"{m}x in-rows → peak/removed" for m in stream_mults],
                    stream), cores),
        section("## Forecast/prediction family (round-7 additions)",
                CANDLE_PROSE, table("operator", sec_cols, sec_rows(
                    candles, MULTIPLES, "{x:.1f}x ({hi}x/{lo}x)")), cores),
        section("## TPC-H join pipelines at sf1 volume (AQE runtime sizing)",
                TPCH_PROSE, table(
                    "query", [f"{m}x sec (rows)" for m in TPCH_MULTS]
                    + [f"{TPCH_MULTS[-1]}x/{TPCH_MULTS[0]}x"],
                    sec_rows(tpch, TPCH_MULTS, "{x:.1f}x")), cores),
    ]
    return [line for i, s in enumerate(sections) for line in
            ([""] if i else []) + s]


HEAD_PROSE = [
    "Base corpus: sf0.1 documents (embeddings for knn_graph, with",
    "deterministic per-component perturbation so copies don't",
    "collapse into cosine-1 cliques); multiples built by unioning",
    "id-shifted, token-perturbed copies.",
    "",
    "TWO REGIMES show in these curves (since the r06 hot-bucket",
    "cap). The sf0.1 corpus itself contains a ~2400-doc",
    "boilerplate family — beyond BUCKET_CAP=512 — so the",
    "minhash/simhash family and everything built on its pairs",
    "(components, pagerank, triangles) runs CAPPED: per hot",
    "bucket the pair list is bounded at C(cap,2) survivors plus",
    "one star link per capped-out member (decision consumers),",
    "which is why those volume columns grow far slower than the",
    "corpus and wall stays flat-to-sublinear — the skew guard",
    "doing exactly its 100 TB job. dedup_ngram_jaccard's LOSSLESS",
    "prefix-prefix filter (r12, replacing log-length buckets) is",
    "uncapped by design, so its row shows the true output curve",
    "(~14x pairs at 4x input) and wall tracks it — the",
    "exact-verify stage's irreducible per-pair work. The",
    "containment/ngram join sides follow the session's join",
    "policy (session.py): an exploded gram relation is statically",
    "broadcast only while its plan estimate is under 10 MB, and",
    "beyond that it is shuffle-joined, with AQE re-broadcasting it",
    "only when its exact runtime shuffle size is under 64 MB (the",
    "r12 static broadcasts of these sides OOMed an 8g driver at",
    "500k docs — see the two-decade appendix). Copies of THIS",
    "replicated corpus share gram hashes, so the appendix's",
    "content-disjoint curve is the scale-representative one. Growth",
    "beyond the volume curve in ANY row would",
    "indicate a candidate-generation blow-up; the",
    "bucketed-not-all-pairs evidence is (a) the plan audits (no",
    "CartesianProduct/BroadcastNestedLoopJoin anywhere in the",
    "family) and (b) BASELINE.md, where the all-pairs single-node",
    "oracle formulations blow a 60s cap at 1x while these plans",
    "finish in seconds. local[{cores}]; times include the count",
    "action; single-run (noisy - compare shapes, not single",
    "cells; the first heavy row pays session JIT).",
    "Regenerate: `python tools/scaling.py`.",
    "",
    "TWO-DECADE (100x) APPENDICES below, one per operator",
    "family, each regenerated by `python tools/scaling.py <name>`",
    "and preserved across head regens: scale_decades (dedup, token-disjoint",
    "corpus), ann_decades (embedding family, sign-flip",
    "orthogonal copies), text_decades (corpus statistics,",
    "vocabulary grows 100x), tpch_decades (join pipelines at",
    "SF10 volume), events_decades (sessionize/funnel/cohort/",
    "RFM at 10M events + forecast at 900 keys), stream_decades",
    "(streaming state at 10M events), graph_decades (components/",
    "pagerank/triangles over the near-dup graph at 500k docs),",
    "streaming_profile (the r12 replay-cost breakdown).",
    "",
    "The (volume) column is output rows, except doc_pagerank",
    "(total degree = 2x edges — wall is edge-bound, output is",
    "node-sized) and graph_triangles (total per-node triangle",
    "count = 3x triangles — the exact enumerator's output floor",
    "over the capped pair graph).",
]
DEEP_PROSE = [
    "The 100-TB-critical dedup/similarity plans probed past the",
    "4x corpus (VERDICT r10 #6): banded-minhash bucketing,",
    "containment's rarest-shingle buckets, knn's LSH candidate",
    "space, and SemDeDup's Σn_c² cluster pair space (k scales",
    "with the corpus — 8·mult clusters — per the paper's recipe,",
    "so pair space stays ~linear). An all-pairs formulation is",
    "quadratic: 10x docs → 100x wall. Sub-quadratic here means",
    "wall/1x far under (10x)² = 100x and tracking the OUTPUT",
    "volume curve (replicated corpora inflate true near-dup",
    "pairs superlinearly by construction — see the capped-bucket",
    "regime notes above). Single-run wall, local[{cores}].",
]
STREAM_PROSE = [
    "Event stream replayed at 1x/2x/4x/10x (user/event ids",
    "shifted",
    "per copy — distinct keys scale, the time axis does not);",
    "cells read peak / removed (state rows) over the replay's",
    "micro-batches, from stateOperators progress. The claims:",
    "streaming_kmv's state is ONE sketch row per day, so its peak",
    "is FLAT in input size (the sketch absorbs any user count);",
    "sessionize's peak tracks OPEN sessions (× mult, ≪ events)",
    "and the event-time timeout flush removes every row by end of",
    "replay (removed == peak); dedup-within-watermark's peak",
    "tracks keys in the window — removed is 0 HERE by design (the",
    "replay keeps every key in-window for the exactness oracle);",
    "its eviction behavior is pytest-gated separately",
    "(tests/test_streaming_sinks.py::",
    "test_streaming_dedup_watermark_evicts_state).",
]
CANDLE_PROSE = [
    "Candle relation replicated by product (id-suffixed copies:",
    "KEY count scales, per-key series length does not).",
    "holt_param_sweep runs the whole (α, β) grid inside one",
    "applyInPandas pass per key — wall should grow ≤ linearly in",
    "keys while keys < cores; model_metrics is equi-joins +",
    "partial-agg fixed-point sums — linear in rows. (volume) =",
    "evaluated points / scored samples.",
]
TPCH_PROSE = [
    "The four heaviest multi-join queries on materialized",
    "referentially-consistent multiples of the sf0.1 tables",
    "(per-copy key offsets; nation/region fixed, per TPC-H SF",
    "semantics) — 10x is the sf1 row volume (6M lineitem). Run",
    "exactly as the registry serves them, from fresh parquet",
    "scans, so AQE's RUNTIME join sizing — not just the",
    "plan-audited broadcast hints — is what's measured. The",
    "claim: flat-to-linear wall; a broadcast side outgrowing its",
    "threshold or a shuffle join mis-sized at 10x would show as a",
    "super-linear knee. (volume) = result rows; timing includes",
    "scan+shuffle+agg of the full pipeline, single-run.",
]


def main(markers: list[str]) -> None:
    unknown = [m for m in markers if m not in FAMILIES]
    if unknown:
        sys.exit(f"unknown family {unknown}; choose from {list(FAMILIES)}")
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).agg(F.bit_xor(F.xxhash64("id"))).collect()
    cores = spark.sparkContext.defaultParallelism
    # each section is written as soon as it is measured, so a failure
    # in a later family cannot lose an earlier family's hours of work
    for marker in markers or [None]:
        lines = (head(spark, cores) if marker is None
                 else appendix(spark, marker, cores))
        write_section(marker, lines)
        print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
