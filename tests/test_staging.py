"""staged_build failure-path contract (ADVICE r9 / VERDICT r9 #8):
no orphaned ``*.build.{pid}`` dirs on any exit, and no phantom cache
entries after a rename that did not actually publish."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.operators.staging import (
    file_key,
    staged_build,
    stored_index,
)


def _no_orphans(root: str) -> bool:
    return glob.glob(os.path.join(root, "*.build.*")) == []


def test_publish_and_reap(tmp_path):
    final = str(tmp_path / "layout")
    with staged_build(final) as build:
        os.makedirs(build)
        open(os.path.join(build, "_SUCCESS"), "w").close()
        open(os.path.join(build, "part-0.parquet"), "w").close()
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    assert _no_orphans(str(tmp_path))


def test_build_crash_reaps_tmp_and_propagates(tmp_path):
    final = str(tmp_path / "layout")
    with pytest.raises(RuntimeError, match="executor died"):
        with staged_build(final) as build:
            os.makedirs(build)
            open(os.path.join(build, "half-written"), "w").close()
            raise RuntimeError("executor died mid-write")
    assert not os.path.exists(final)
    assert _no_orphans(str(tmp_path))


def test_failed_rename_without_winner_reraises(tmp_path):
    # the final dir exists non-empty but WITHOUT the marker: the rename
    # fails and nobody actually published — caching `final` here would
    # point every later read at garbage (ADVICE r9 zorder bug)
    final = str(tmp_path / "layout")
    os.makedirs(final)
    open(os.path.join(final, "stale-junk"), "w").close()
    with pytest.raises(OSError):
        with staged_build(final) as build:
            os.makedirs(build)
            open(os.path.join(build, "_SUCCESS"), "w").close()
    assert _no_orphans(str(tmp_path))


def test_concurrent_winner_swallowed(tmp_path):
    # the final dir carries the marker: a concurrent builder won with
    # identical bytes — our copy is dropped silently
    final = str(tmp_path / "layout")
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    open(os.path.join(final, "winner.parquet"), "w").close()
    with staged_build(final) as build:
        os.makedirs(build)
        open(os.path.join(build, "_SUCCESS"), "w").close()
    assert os.path.exists(os.path.join(final, "winner.parquet"))
    assert _no_orphans(str(tmp_path))


def test_marker_none_accepts_any_existing_dir(tmp_path):
    final = str(tmp_path / "stage")
    os.makedirs(final)
    open(os.path.join(final, "000.parquet"), "w").close()
    with staged_build(final, marker=None) as build:
        os.makedirs(build)
    assert os.path.exists(os.path.join(final, "000.parquet"))
    assert _no_orphans(str(tmp_path))


def test_file_key_format(tmp_path):
    # existing snapshots are addressed by digests of this exact string
    src = tmp_path / "t.parquet"
    src.write_bytes(b"abc")
    st = os.stat(src)
    assert file_key(str(src)) == f"{src}:3:{st.st_mtime_ns}"
    assert file_key(str(src), "base", 4) == f"{src}:3:{st.st_mtime_ns}:base:4"


def test_stored_index_builds_once_per_key(tmp_path):
    root = str(tmp_path / "idx")
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "_meta.json"), "w").close()

    a = stored_index(root, ("k", 1), build, "_meta.json")
    assert stored_index(root, ("k", 1), build, "_meta.json") == a
    b = stored_index(root, ("k", 2), build, "_meta.json")
    assert len(calls) == 2 and b != a
    assert os.path.exists(os.path.join(a, "_meta.json"))
    assert _no_orphans(root)


def test_salted_agg_salt_stable_under_repartition(spark):
    """The salt is a pure function of row content (xxhash64), so the
    phase-1 (key, salt) -> partial mapping is identical however the
    input happens to be partitioned — the property a partial-stage
    retry relies on for byte-stable shuffle blocks. The F.rand(seed)
    salt this replaced was seeded PER PARTITION and fails exactly this
    check (VERDICT r9)."""
    from pyspark.sql import DataFrame

    base = spark.range(0, 5000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") % 11).cast("double").alias("v"),
    )

    def phase1(df: DataFrame):
        # mirror of salted_agg's salt construction (keys=["k"])
        salt = F.pmod(F.xxhash64(F.col("v"), F.lit(7)), F.lit(8)).cast("int")
        return sorted(
            (r.k, r._salt, r.n, r.s)
            for r in df.withColumn("_salt", salt)
            .groupBy("k", "_salt")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        )

    assert phase1(base.repartition(3)) == phase1(base.repartition(17))
