"""The benchmark's workloads: one closed-loop client, no concurrent requests.

Each workload function takes a ``Run`` (seed, seconds, trace flag and the
run's scratch directories) and returns a ``Result``: op latencies, timed
wall and CPU, set-up time, output-check failures and, when traced, layer
counters and spans.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import probes

APP = "perfbench"
#: loads that warm the session up before the first timed load
WARMUP_LOADS = 2
#: dataset ids the small loads rotate over. The warm-up loads create
#: them, so every timed load replaces an existing dataset (pre-delete,
#: then insert) and the warehouse holds the same data before each one
DATASET_POOL = WARMUP_LOADS

#: catalog entries of ``catalog_mix``. The two stored-index entries of the
#: catalog (text_bm25_topk_stored, similarity_ivf_pq) build their index
#: under a hard-coded /tmp root, outside the benchmark's directory; their
#: inline twins (text_bm25_topk, similarity_ivf) stand in for them.
CATALOG_MIX = (
    "agg_group join_inner route_case strip_z header_project explode_unnest "
    "tpch_q1_pricing_summary tpch_q3_shipping_priority tpch_q5_local_volume "
    "text_quality text_keywords text_bm25_topk dedup_minhash_lsh "
    "dedup_golden_record similarity_ivf embedding_knn_batch "
    "embedding_drift_alert events_funnel"
).split()
CATALOG_SF = 0.01


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    work: str  # this run's scratch directory
    cache: str  # inputs shared by runs in the same checkout


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    #: CPU seconds of the process tree during each op, JIT compilation
    #: excluded
    op_cpu: list[float] = field(default_factory=list)
    op_kinds: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # wall and op count of the timed phase's whole passes
    timed_wall_s: float = 0.0
    timed_ops: int = 0
    setup_s: float = 0.0
    start_s: float = 0.0
    steal_frac: float = 0.0
    check_errors: list[str] = field(default_factory=list)
    #: run-level layer values
    layer: dict[str, float] = field(default_factory=dict)
    #: layer values of each traced op of a whole pass
    op_layers: list[dict[str, float]] = field(default_factory=list)
    tracer: probes.Tracer = field(default_factory=probes.Tracer)


#: one op: (ok, failure message, op kind, child spans as (name, start,
#: end) in seconds from the op start, layer values)
OpResult = tuple[bool, str, str, list[tuple[str, float, float]], dict[str, float]]


def start_session():
    """Start the benchmark's SparkSession (this launches the JVM)."""
    from tdei_extract_load_service_spark.session import get_spark

    return get_spark(APP, extra_conf=probes.SparkProbe.SESSION_CONF)


def timed_phase(run: Run, res: Result, spark, next_pass: Callable[[], list],
                op: Callable[[object, bool], OpResult]) -> None:
    """Closed loop over passes of ops until ``run.seconds`` have elapsed,
    stopping mid-pass once at least one pass is whole. Wall and layer
    counters cover whole passes only, so every run sums the same multiset
    of ops; latencies and per-op CPU cover every op. In a traced run every
    op is traced: its span, child spans, one span per Spark job, and its
    counters."""
    probe = probes.SparkProbe(spark)
    steal0 = probes.host_cpu_ticks()
    t_start = time.perf_counter()
    whole_passes = whole_layers = 0
    while True:
        items = next_pass()
        for item in items:
            if whole_passes and time.perf_counter() - t_start >= run.seconds:
                break
            res.attempted += 1
            mark0 = probe.mark() if run.trace else None
            cpu0 = probes.cpu_snapshot()
            w0, t0 = time.time(), time.perf_counter()
            ok, message, kind, children, values = op(item, run.trace)
            lat = time.perf_counter() - t0
            cpu, jit = probes.op_cpu_s(cpu0, probes.cpu_snapshot())
            if not ok:
                res.failed += 1
                res.check_errors.append(f"{kind}: {message}"[:300])
                continue
            res.latencies.append(lat)
            res.op_cpu.append(cpu)
            res.op_kinds.append(kind)
            if run.trace:
                values.update(_trace_op(res.tracer, probe, mark0, w0, lat, kind, children))
                values["process.jit_cpu_s"] = jit
                res.op_layers.append(values)
        else:
            whole_passes += 1
            res.timed_ops = len(res.latencies)
            res.timed_wall_s = time.perf_counter() - t_start
            whole_layers = len(res.op_layers)
            continue
        break
    del res.op_layers[whole_layers:]
    res.steal_frac = probes.steal_frac(steal0, probes.host_cpu_ticks())


def _trace_op(tracer: probes.Tracer, probe, mark0, w0: float, lat: float, name: str,
              children: list[tuple[str, float, float]]) -> dict[str, float]:
    """Record one op's spans (a job span is parented to the child span it
    started in, else to the op span) and return its Spark counters."""
    got = probe.collect(mark0, probe.mark())
    op_id = tracer.add(name, w0, w0 + lat, None, len(tracer.spans))
    kids = [(tracer.add(n, w0 + a, w0 + b, op_id, op_id), w0 + a, w0 + b)
            for n, a, b in children]
    for a, b in got["job_intervals"]:
        parent = next((k for k, ka, kb in kids if ka <= a <= kb), op_id)
        tracer.add("spark.job", a, b, parent, op_id)
    counters = dict(got["counters"])
    counters["driver.outside_jobs_s"] = max(0.0, lat - probes.union_s(got["job_intervals"]))
    return counters


# ------------------------------------------------------------ OSW loads


def _load_message(archive: str, dataset: str) -> dict:
    return {
        "messageId": f"msg-{dataset}",
        "messageType": "mutation",
        "data": {
            "data_type": "osw",
            "file_upload_path": archive,
            "tdei_dataset_id": dataset,
            "user_id": "perfbench",
        },
    }


def osw_small_loads(run: Run) -> Result:
    """One request message per op through ``process_request`` with the
    manifest commit, on a ~2k-feature archive; dataset ids rotate over a
    pool of ``DATASET_POOL``."""
    import osw_gen

    from tdei_extract_load_service_spark.plans.load_dataset import (
        SINK_TABLES,
        load_dataset,
        read_sink,
    )
    from tdei_extract_load_service_spark.sinks.manifest import MANIFEST_NAME
    from tdei_extract_load_service_spark.streaming.consumer import process_request

    archive, manifest = osw_gen.cached_archive(run.cache, run.seed)
    wh = os.path.join(run.work, "warehouse")
    res = Result()
    loads = 0

    def load(spark, traced: bool) -> OpResult:
        """A traced load calls ``load_dataset`` with the message's fields,
        because ``process_request`` drops the stage timings."""
        nonlocal loads
        dataset = f"ds-{loads % DATASET_POOL}"
        loads += 1
        msg = _load_message(archive, dataset)
        if not traced:
            out = process_request(spark, msg, wh, commit_mode="manifest")["data"]
            return out["success"] is True, out["message"], "load", [], {}
        r = load_dataset(spark, archive_path=archive, tdei_dataset_id=dataset,
                         user_id=msg["data"]["user_id"], warehouse=wh, commit_mode="manifest")
        # the loader reports stage durations, not start times, and runs the
        # metadata and stats writes concurrently: the stages are values, not
        # spans, and the op's Spark jobs are children of the op span itself
        values = {f"load_dataset.{k}_s": v for k, v in r.timings.items()}
        values["sinks.manifest_bytes"] = os.path.getsize(os.path.join(wh, MANIFEST_NAME))
        return r.success, r.message, "load", [], values

    t0 = time.perf_counter()
    spark = start_session()
    try:
        res.start_s = time.perf_counter() - t0
        for _ in range(WARMUP_LOADS):
            ok, message, *_ = load(spark, False)
            if not ok:
                res.check_errors.append(f"warm-up load failed: {message}")
        res.setup_s = time.perf_counter() - t0

        timed_phase(run, res, spark, lambda: [None], lambda _, traced: load(spark, traced))

        live = [f"ds-{k}" for k in range(min(loads, DATASET_POOL))]
        res.check_errors += check_osw_sinks(spark, wh, manifest, live)
        stored = sum(
            os.path.getsize(f.removeprefix("file:"))
            for t in (*SINK_TABLES.values(), "extension_file", "dataset", "dataset_stats")
            for f in read_sink(spark, wh, t).inputFiles()
        )
        res.layer["sinks.stored_bytes_per_input_byte"] = stored / (len(live) * manifest["input_bytes"])
        if res.timed_wall_s:
            res.layer["load_dataset.features_per_s"] = (
                res.timed_ops * sum(manifest["counts"].values()) / res.timed_wall_s
            )
        if run.trace:
            _isolated_osw_layers(spark, archive, res)
        res.layer["process.peak_rss_mb"] = probes.tree_peak_rss_mb()
    finally:
        spark.stop()
    return res


def check_osw_sinks(spark, wh: str, manifest: dict, datasets: list[str]) -> list[str]:
    """Per-kind row counts of every live dataset against the generator,
    and one probe feature per kind: Z stripped, elevation extracted."""
    from pyspark.sql import functions as F

    from tdei_extract_load_service_spark.plans.load_dataset import SINK_TABLES, read_sink

    errors: list[str] = []
    for kind, table in SINK_TABLES.items():
        probe = manifest["probes"][kind]
        is_probe = F.get_json_object("feature", "$.properties._id") == probe["id"]
        got = {
            r["tdei_dataset_id"]: r
            for r in read_sink(spark, wh, table).groupBy("tdei_dataset_id").agg(
                F.count("*").alias("n"),
                F.collect_list(F.when(is_probe, F.col("feature"))).alias("probe"),
            ).collect()
        }
        want = manifest["counts"][kind]
        for ds in datasets:
            n = got[ds]["n"] if ds in got else 0
            if n != want:
                errors.append(f"{table}[{ds}]: {n} rows, generator wrote {want}")
        found = got[datasets[0]]["probe"] if datasets[0] in got else []
        if len(found) != 1:
            errors.append(f"{table}: probe {probe['id']} found {len(found)} times")
            continue
        feat = json.loads(found[0])
        if feat["geometry"]["coordinates"] != probe["coordinates"]:
            errors.append(f"{table}: probe {probe['id']} coordinates not Z-stripped")
        elevation = feat["properties"].get("ext:elevation")
        if probe["elevation"] is None and elevation is not None:
            errors.append(f"{table}: unexpected ext:elevation on {probe['id']}")
        if probe["elevation"] is not None and (
            elevation is None or float(elevation) != float(probe["elevation"])
        ):
            errors.append(f"{table}: ext:elevation {elevation} != {probe['elevation']}")
    files = read_sink(spark, wh, "extension_file").groupBy("tdei_dataset_id").count().collect()
    if sorted(r["tdei_dataset_id"] for r in files if r["count"] == 1) != sorted(datasets):
        errors.append("extension_file: expected one registered extension file per dataset")
    return errors


def _isolated_osw_layers(spark, archive: str, res: Result) -> None:
    """The extract and transform layers run alone to a ``noop`` sink."""
    from tdei_extract_load_service_spark.plans.load_dataset import transform_features
    from tdei_extract_load_service_spark.sources.geojson import explode_features
    from tdei_extract_load_service_spark.sources.zip_fanout import (
        read_zip_archives,
        routed_entries,
        zip_fanout,
    )

    def timed(name: str, df) -> None:
        w0, t0 = time.time(), time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        samples.setdefault(f"{name}_s", []).append(time.perf_counter() - t0)
        res.tracer.add(name, w0, time.time(), None, None)

    samples: dict[str, list[float]] = {}
    for _ in range(3):
        timed("sources.fanout", routed_entries(zip_fanout(read_zip_archives(spark, archive))))
    entries = routed_entries(zip_fanout(read_zip_archives(spark, archive))).persist()
    entries.count()
    for _ in range(3):
        timed("functions.transform", transform_features(explode_features(entries)))
    entries.unpersist()
    res.layer.update({k: statistics.median(v) for k, v in samples.items()})


# ------------------------------------------------------------ catalog


def _oracle_frames(cache: str, tables: str) -> dict:
    """DuckDB oracle result per entry, kept as pickles this program wrote
    itself: the oracle of ``dedup_golden_record`` alone takes over a
    minute. A pickle's name holds a hash of the oracle SQL and of the table
    directory (whose name hashes the table generator), so a changed oracle
    or generator is never checked against a stale result."""
    import duckdb
    import pandas as pd

    from tdei_extract_load_service_spark.catalog import REGISTRY

    root = os.path.join(cache, "oracles")
    os.makedirs(root, exist_ok=True)
    out, con = {}, None
    for name in CATALOG_MIX:
        sql = REGISTRY[name].oracle
        if sql is None:
            continue
        key = hashlib.sha1(f"{os.path.basename(tables)}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(root, f"{name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in ("region nation customer supplier part orders lineitem "
                          "events documents embeddings").split():
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                                f"'{os.path.join(tables, t)}.parquet')")
            con.execute(sql).df().to_pickle(path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


def catalog_mix(run: Run) -> Result:
    """Every op is one catalog entry run to completion with a ``noop``
    write; each pass visits ``CATALOG_MIX`` in a seed-shuffled order."""
    import tables_gen
    from oracle_check import compare_frames

    from tdei_extract_load_service_spark.catalog import REGISTRY

    tables = tables_gen.cached_tables(run.cache, CATALOG_SF)
    oracles = _oracle_frames(run.cache, tables)
    rng = random.Random(run.seed)
    res = Result()

    def next_pass() -> list[str]:
        order = list(CATALOG_MIX)
        rng.shuffle(order)
        return order

    def entry(name: str, traced: bool) -> OpResult:
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].query(spark, tables)
            t_plan = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            return False, f"{type(exc).__name__}: {exc}", name, [], {}
        t_exec = time.perf_counter() - t0
        if not traced:
            return True, "", name, [], {}
        return True, "", name, [("catalog.plan_build", 0.0, t_plan),
                                ("catalog.exec", t_plan, t_exec)], {
            "catalog.plan_build_s": t_plan, "catalog.exec_s": t_exec - t_plan}

    t0 = time.perf_counter()
    spark = start_session()
    try:
        res.start_s = time.perf_counter() - t0
        # warm-up: one pass that collects every entry and checks it against
        # its oracle; the comparison itself is not set-up time
        paused = 0.0
        for name in CATALOG_MIX:
            pdf = REGISTRY[name].query(spark, tables).toPandas()
            c0 = time.perf_counter()
            if name in oracles:
                problems = compare_frames(pdf, oracles[name])
            else:  # no oracle: rows-only check
                problems = [] if len(pdf) > 0 else ["no rows"]
            res.check_errors += [f"{name}: {p}" for p in problems]
            paused += time.perf_counter() - c0
        res.setup_s = time.perf_counter() - t0 - paused

        timed_phase(run, res, spark, next_pass, entry)
        res.layer["process.peak_rss_mb"] = probes.tree_peak_rss_mb()
    finally:
        spark.stop()
    return res


WORKLOADS = {"osw_small_loads": osw_small_loads, "catalog_mix": catalog_mix}
