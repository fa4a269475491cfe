"""Fault injection on the ETL's watermark state: missing state is a
first run, state that cannot be read raises and is left as it was, and
a swap that stopped half way is finished by the next read."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from finance_etl_system_spark.pipeline.etl import (
    RAW_SCHEMA,
    incremental_etl,
    read_watermarks,
    write_watermarks,
)


def _marks_rows(spark, symbols, ts="2024-01-02T16:00:00"):
    return spark.createDataFrame(
        [(s, ts) for s in symbols], "symbol STRING, ts STRING"
    ).select("symbol", F.to_timestamp("ts").alias("event_time"))


def _raw(spark, symbols, day):
    return spark.createDataFrame(
        [(s, day, 1.0, 1.0, 1.0, 1.0, 100, f"{day}T16:00:00", None) for s in symbols],
        RAW_SCHEMA,
    )


def _snapshot(path):
    return {f: open(f, "rb").read() for f in glob.glob(f"{path}/**", recursive=True)
            if os.path.isfile(f)}


def _corrupt_marks(state):
    """Overwrite the marks' one part file with garbage (and drop its
    checksum, so the parquet reader itself meets the garbage)."""
    [part] = glob.glob(f"{state}/watermarks.parquet/*.parquet")
    good = open(part, "rb").read()
    with open(part, "wb") as fh:
        fh.write(b"this is not parquet")
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return part, good


def test_missing_state_is_empty(spark, tmp_path):
    state = str(tmp_path / "state")
    assert read_watermarks(spark, state) == {}
    assert read_watermarks(spark, state, as_frame=True) is None


def test_corrupt_marks_raise_and_are_not_lost(spark, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    incremental_etl(spark, _raw(spark, ["A", "B"], "2024-01-02"), state, out)
    assert set(read_watermarks(spark, state)) == {"A", "B"}
    part, good = _corrupt_marks(state)
    table = _snapshot(out)

    with pytest.raises(Exception, match="(?i)parquet"):
        read_watermarks(spark, state)
    with pytest.raises(Exception, match="(?i)parquet"):
        write_watermarks(spark, state, _marks_rows(spark, ["C"]))
    with pytest.raises(Exception, match="(?i)parquet"):
        incremental_etl(spark, _raw(spark, ["C"], "2024-01-03"), state, out)

    assert open(part, "rb").read() == b"this is not parquet"  # not replaced
    assert _snapshot(out) == table
    with open(part, "wb") as fh:
        fh.write(good)
    assert set(read_watermarks(spark, state)) == {"A", "B"}


def test_table_without_marks_raises(spark, tmp_path):
    """Output present, marks gone: the first-run branch would rewrite each
    batch symbol's partition with the batch rows alone."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    incremental_etl(spark, _raw(spark, ["A"], "2024-01-02"), state, out)
    shutil.rmtree(state)
    table = _snapshot(out)
    with pytest.raises(RuntimeError, match="no watermarks"):
        incremental_etl(spark, _raw(spark, ["A"], "2024-01-03"), state, out)
    assert _snapshot(out) == table


def test_marks_without_table_raise(spark, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    write_watermarks(spark, state, _marks_rows(spark, ["A"]))
    marks = read_watermarks(spark, state)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        incremental_etl(spark, _raw(spark, ["A"], "2024-01-03"), state, out)
    assert read_watermarks(spark, state) == marks
    assert not os.path.exists(out)


def test_interrupted_swap_is_finished_by_the_next_read(spark, tmp_path):
    """A crash between the swap's delete and rename leaves only the
    complete staging copy; a half-written staging copy is ignored."""
    state = str(tmp_path / "state")
    live = f"{state}/watermarks.parquet"
    write_watermarks(spark, state, _marks_rows(spark, ["A", "B"]))
    os.rename(live, f"{live}.staging")
    assert set(read_watermarks(spark, state)) == {"A", "B"}
    assert os.path.isdir(live) and not os.path.exists(f"{live}.staging")

    os.makedirs(f"{live}.staging")
    with open(f"{live}.staging/part-0.parquet", "wb") as fh:
        fh.write(b"half written")
    write_watermarks(spark, state, _marks_rows(spark, ["C"]))
    assert set(read_watermarks(spark, state)) == {"A", "B", "C"}

    shutil.rmtree(live)
    os.makedirs(f"{live}.staging")
    assert read_watermarks(spark, state) == {}
