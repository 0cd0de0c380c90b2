"""Self-test of the Spark counters: the same op, run twice after one
warm-up, must report identical job, stage and task counts. It covers one
small OSW load (replacing the same dataset) and one catalog entry.

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import os

import osw_gen
import probes
import tables_gen
import workloads

EXACT = ("spark.jobs", "spark.stages", "spark.tasks")


def _counts_twice(spark, op) -> list[dict]:
    probe = probes.SparkProbe(spark)
    op()  # warm-up
    out = []
    for _ in range(2):
        m0 = probe.mark()
        op()
        got = probe.collect(m0, probe.mark())["counters"]
        out.append({k: got.get(k, 0) for k in EXACT})
    return out


def main(run: workloads.Run) -> int:
    from tdei_extract_load_service_spark.catalog import REGISTRY
    from tdei_extract_load_service_spark.plans.load_dataset import load_dataset

    archive, _ = osw_gen.cached_archive(run.cache, run.seed)
    tables = tables_gen.cached_tables(run.cache, workloads.CATALOG_SF)
    wh = os.path.join(run.work, "warehouse")
    spark = workloads.start_session()
    try:
        def load() -> None:
            r = load_dataset(spark, archive, "selftest", "perfbench", wh, commit_mode="manifest")
            if not r.success:
                raise RuntimeError(r.message)

        def entry() -> None:
            REGISTRY["agg_group"].query(spark, tables).write.format("noop").mode("overwrite").save()

        failures = 0
        for name, op in (("osw load", load), ("catalog agg_group", entry)):
            first, second = _counts_twice(spark, op)
            same = first == second and first["spark.jobs"] > 0
            failures += not same
            print(f"{'ok  ' if same else 'FAIL'} {name}: {first} then {second}")
    finally:
        spark.stop()
    return 1 if failures else 0
