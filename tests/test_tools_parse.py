"""The parsers the evidence tools rely on. tools/baseline.py's
worker-output parse, which both baseline tools use: a worker that
exits 0 with stray, empty or bare-number stdout must yield no reading,
not an exception that loses every reading taken so far. And
tools/dump_plans.py's eager-checkpoint check. These checks need no
Spark session."""

from tools.baseline import parse_worker_out
from tools.dump_plans import reads_checkpoint

READING = '{"sec": 1.25, "rows": 7}'


def test_reading_is_the_last_worker_line():
    assert parse_worker_out(READING + "\n") == {"sec": 1.25, "rows": 7}
    # progress-bar residue and log lines before the reading are skipped
    stray = "\r[=====>     ] 50%\nwarming up\n" + READING + "\n\n"
    assert parse_worker_out(stray) == {"sec": 1.25, "rows": 7}


def test_empty_output_is_no_reading():
    assert parse_worker_out("") is None
    assert parse_worker_out("\n \n") is None


def test_non_reading_output_is_no_reading():
    # a bare number and a dict without the worker's keys both parse as
    # JSON but are not a reading
    assert parse_worker_out("42\n") is None
    assert parse_worker_out('{"sec": 1.0}\n3.5\n') is None
    assert parse_worker_out("Traceback (most recent call last):\n") is None
    # a trailing bare number does not hide an earlier reading
    assert parse_worker_out(READING + "\n42\n") == {"sec": 1.25, "rows": 7}


def test_checkpoint_scan_is_flagged():
    checkpointed = ("== Physical Plan ==\n* Project (2)\n"
                    "+- * Scan ExistingRDD (1)\n\n\n"
                    "(1) Scan ExistingRDD [codegen id : 1]\n"
                    "Output [3]: [id#1L, old#2L, label#3L]\n")
    mixed = ("(1) Scan parquet \nOutput [1]: [doc_id#5L]\n\n"
             "(4) Scan ExistingRDD\nOutput [3]: [id#7L]\n")
    files = ("(1) Scan parquet \nOutput [1]: [doc_id#5L]\n\n"
             "(2) Exchange\nInput [1]: [doc_id#5L]\n")
    assert reads_checkpoint(checkpointed)
    assert reads_checkpoint(mixed)
    assert not reads_checkpoint(files)
