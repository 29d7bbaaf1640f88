"""``registry_sf001``: a warm slice of the batch query registry.

Inputs are the repo's synthetic tables at scale factor 0.01, written by
``tools/gen_testdata.py`` with its fixed generator seed, so every run
reads identical tables whatever ``--seed`` is: the recorded row counts
and content hashes in ``registry_expected.json`` can only be checked on
fixed inputs.

Set-up loads every table once, then runs one untimed pass that also
checks each query's output (row count and an order-independent content
hash against the recorded values). Measured passes follow until the
run's seconds are used; each query is timed from its construction
(``QUERIES[name](spark, sf_dir)``, the driver-side eager work) to the end
of its noop-sink write (execution).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01
EXPECTED = os.path.join(HERE, "registry_expected.json")
TABLES = ("events", "documents")  # what the slice reads
# the paper's batch DAGs, then a set-similarity and a graph query whose
# cost is mostly execution
QUERY_NAMES = ("mood_pipeline", "daily_summary", "quality_filter", "mood_distribution",
               "news_sentiment", "dedup_prefix_filter", "triangle_count")


def generate(out: str) -> None:
    """Write the scale-factor-0.01 tables with the repo's generator."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import gen_testdata
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_testdata.main(SF, out)


def content_hash(df) -> tuple[int, str]:
    """(row count, order-independent hash): the exact sum of each row's
    64-bit hash of its JSON rendering."""
    h = F.xxhash64(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])))
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return int(row["n"]), str(row["s"])


def _release(spark) -> None:
    # queries that persist or checkpoint intermediates must not tax the
    # next query with their cached blocks
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def run(ctx) -> dict:
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES
    from data_engineering_demo_real_time_city_mood_tracker_spark.sources.batch import load_table

    spark, tr, sf_dir = ctx.spark, ctx.tracer, ctx.sf_dir
    sc = spark.sparkContext
    with open(EXPECTED) as fh:
        expected = json.load(fh)

    with tr.span("load"):
        for t in TABLES:
            load_table(spark, sf_dir, t)
    bad = set()
    with tr.span("warm"):
        for q in QUERY_NAMES:
            got = content_hash(QUERIES[q](spark, sf_dir))
            if list(got) != expected.get(q):
                bad.add(q)
                print(f"registry check: {q} gave {list(got)}, recorded {expected.get(q)}")
            _release(spark)
    ctx.mark_setup_end()

    parts: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERY_NAMES}
    t0 = time.monotonic()
    with tr.span("timed") as timed:
        # another pass only while it fits in the run's seconds
        last = 0.0
        while not parts[QUERY_NAMES[0]] or time.monotonic() - t0 + last <= ctx.seconds:
            p0 = time.monotonic()
            with tr.span("pass"):
                for q in QUERY_NAMES:
                    sc.setJobGroup(f"q:{q}", q)
                    with tr.span("query", name_q=q):
                        a = time.perf_counter()
                        with tr.span("construct", name_q=q):
                            df = QUERIES[q](spark, sf_dir)
                        b = time.perf_counter()
                        with tr.span("exec", name_q=q):
                            df.write.format("noop").mode("overwrite").save()
                        c = time.perf_counter()
                    parts[q].append((b - a, c - b))
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    _release(spark)
            last = time.monotonic() - p0
    ctx.mark_timed_end()

    lat = [(c + e) * 1000.0 for q in QUERY_NAMES for c, e in parts[q]]
    med = {q: statistics.median(c + e for c, e in parts[q]) for q in QUERY_NAMES}
    layers = {"query_sum_s": sum(med.values()),
              "query_geomean_s": statistics.geometric_mean(med.values())}
    for q in QUERY_NAMES:
        layers[f"construct_s.{q}"] = statistics.median(c for c, _ in parts[q])
        layers[f"exec_s.{q}"] = statistics.median(e for _, e in parts[q])
    layers["construct_s"] = sum(layers[f"construct_s.{q}"] for q in QUERY_NAMES)
    layers["exec_s"] = sum(layers[f"exec_s.{q}"] for q in QUERY_NAMES)
    return {"latencies_ms": lat, "throughput": 1000.0 * len(lat) / sum(lat),
            "attempted": len(lat), "failed": sum(len(parts[q]) for q in bad),
            "checks": {"hashes": not bad}, "timed_span": timed, "layers": layers,
            "samples": {"passes": len(parts[QUERY_NAMES[0]]), "executions": len(lat)}}


if __name__ == "__main__":
    # Print the values registry_expected.json should hold:
    #   python3 perfbench/registry.py > perfbench/registry_expected.json
    import tempfile

    import spark_env

    sys.path.insert(0, ROOT)
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as work:
        spark_env.prepare_env(work)
        sf_dir = os.path.join(work, "sf0.01")
        generate(sf_dir)
        spark = spark_env.start_session("perfbench-record")
        hashes = {}
        for q in QUERY_NAMES:
            hashes[q] = list(content_hash(QUERIES[q](spark, sf_dir)))
            _release(spark)
        spark_env.stop_session(spark)
    print(json.dumps(hashes, indent=1))
