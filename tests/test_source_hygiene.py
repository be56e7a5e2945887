"""Source-level hygiene gates (grep-style, no Spark session needed).

The timestamp one exists because the driver's testdata has shipped
both tz-aware (TIMESTAMP) and tz-naive (TIMESTAMP_NTZ) parquet across
rounds, and the two types do not share cast rules — a raw
``unix_timestamp()`` or ``ts.cast("double")`` works on one and
truncates or throws on the other. All epoch conversions must go
through functions/timeutil.epoch_seconds.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).parent.parent / "coinbase_data_pipeline_spark"
ALLOWED = {PKG / "functions" / "timeutil.py"}

# Spark-side patterns that turn a timestamp into seconds; oracle SQL
# strings are exempt (DuckDB's epoch()/CAST rules are NTZ-agnostic),
# recognized by the surrounding triple-quoted SQL blocks all living in
# module-level *SQL* constants — the patterns below only appear in
# Python expression position in this codebase.
BANNED = [
    re.compile(r"F\.unix_timestamp"),
    re.compile(r"\.cast\(['\"]timestamp['\"]\)\.cast\(['\"]double['\"]\)"),
]


def test_epoch_conversions_go_through_timeutil():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path in ALLOWED:
            continue
        text = path.read_text()
        for pat in BANNED:
            for m in pat.finditer(text):
                line = text[:m.start()].count("\n") + 1
                offenders.append(f"{path.relative_to(PKG)}:{line} "
                                 f"matches {pat.pattern!r}")
    assert not offenders, (
        "raw timestamp→seconds conversion outside functions/timeutil "
        "(use epoch_seconds — NTZ-safe, fractional):\n"
        + "\n".join(offenders))


def test_cross_joins_are_broadcast_hinted():
    """Every crossJoin in the engine is a broadcast-hinted 1-row
    scalar join (the house pattern for joining a scalar aggregate
    back onto a relation). An unhinted crossJoin risks planning a
    real cartesian product — at cluster scale that's the difference
    between shipping one row and shuffling the world. If a new site
    genuinely needs a multi-row cross product, it belongs in a
    bucketed/banded operator, not a raw crossJoin; if the hint just
    moved to another line, keep it on the call line so this gate can
    see it."""
    bad = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "crossJoin(" in line and "broadcast" not in line:
                bad.append(f"{p.relative_to(PKG)}:{i}: {line.strip()}")
    assert not bad, "unhinted crossJoin sites:\n" + "\n".join(bad)


def test_no_row_at_a_time_python_udfs():
    """The engine's only Python-side compute is Arrow-batched
    (pandas_udf / applyInPandas / mapInPandas / applyInPandasWithState)
    for the inherently-recursive families. Row-at-a-time F.udf is
    banned from the hot path wholesale: it serializes every row
    through pickle one at a time (10-100x slower than Arrow batches)
    and breaks whole-stage codegen around the call site."""
    banned = re.compile(r"(?<!pandas_)\budf\s*\(")
    bad = []
    for p in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if banned.search(line) and "pandas_udf" not in line:
                bad.append(f"{p.relative_to(PKG)}:{i}: {line.strip()}")
    assert not bad, "row-at-a-time udf sites:\n" + "\n".join(bad)


def test_scaling_decade_appendices_intact():
    """SCALING.md's marker-delimited appendices ARE the engine's
    scale evidence: eight per-family 100x curves plus the streaming
    profile, each regenerated by `tools/scaling.py <name>` (or
    tools/profile_streaming.py) and preserved across head regens
    by a marker regex. A typo'd or unbalanced marker would make the
    next regen silently drop that family's evidence, so the contract
    is pinned here: every expected appendix present, every start
    marker balanced by its end marker, end after start."""
    scaling = (pathlib.Path(__file__).parent.parent / "SCALING.md"
               ).read_text()
    expected = {"streaming_profile", "scale_decades", "ann_decades",
                "text_decades", "tpch_decades", "events_decades",
                "stream_decades", "graph_decades"}
    # the same regex tools/scaling.py uses for preservation
    found = set(re.findall(r"<!-- ([a-z_]+):start -->", scaling))
    missing = expected - found
    assert not missing, f"appendices missing from SCALING.md: {missing}"
    for name in sorted(found):
        start = scaling.index(f"<!-- {name}:start -->")
        end = scaling.find(f"<!-- {name}:end -->")
        assert end > start, f"appendix {name} has no end marker"


def test_udf_helpers_unpickle_without_the_package(tmp_path):
    """Package functions that pandas-UDF closures call (the Holt
    recursion, the media header parser, the session fold) travel by
    value: an isolated interpreter (`python -I`, started from a temp
    directory, so neither PYTHONPATH nor the repo is on its path)
    loads and runs them without importing the package, as a Python
    worker of a caller-built session must."""
    import json
    import subprocess
    import sys

    from pyspark import cloudpickle

    from coinbase_data_pipeline_spark.operators import indicators, multimodal
    from coinbase_data_pipeline_spark.streaming import pipelines

    image = multimodal.encode_image(2, 3, bytes(6))
    payload = tmp_path / "helpers.pkl"
    payload.write_bytes(cloudpickle.dumps(
        (indicators._holt_lane, multimodal._parse_header,
         pipelines.fold_session_times, image)))
    script = (
        "import json, pickle, sys\n"
        "holt, header, fold, image = pickle.load(open(sys.argv[1], 'rb'))\n"
        "level, trend = holt([1.0, 2.0, 4.0, 3.0], 0.5, 0.25)\n"
        "assert 'coinbase_data_pipeline_spark' not in sys.modules\n"
        "print(json.dumps([level.tolist(), trend.tolist(), header(image),\n"
        "                  fold([5, 1, 90], (0, 2, 2), 10)]))\n")
    run = subprocess.run([sys.executable, "-I", "-c", script, str(payload)],
                         cwd=tmp_path, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0, run.stderr
    level, trend = indicators._holt_lane([1.0, 2.0, 4.0, 3.0], 0.5, 0.25)
    closed, state = pipelines.fold_session_times([5, 1, 90], (0, 2, 2), 10)
    assert json.loads(run.stdout) == [
        level.tolist(), trend.tolist(), multimodal._parse_header(image),
        [[list(c) for c in closed], list(state)]]
