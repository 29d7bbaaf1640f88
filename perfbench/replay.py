"""Backlog phase of ``mood_stream``: closed-loop drains of staged topics.

Set-up stages EVENTS events per stream as topic files with the
producers' projections, one simulated second apart. A drain replays the
whole backlog with ``availableNow`` through the wiring of
``streaming/app.py``: ``parse_*`` → ``mood_stream`` →
``start_parquet_sink`` and ``document_sink``, both queries running at
once under fresh checkpoints. Set-up runs WARM_DRAINS untimed drains,
so that code generation, the JIT and the Python workers are warm for
backlog-sized batches; the timed region then runs DRAINS drains.

A drain has a fixed cost whatever the backlog (query start, planning,
the sink's per-batch work, the no-data batch that closes the last
windows). On a 4-vCPU host, warm drains of 60k and 120k events per
stream took 5.1 s and 7.0 s: about 3.3 s fixed, so per-row work is a
little under half of a drain at EVENTS (about 2.5 s of 5.8 s).

Throughput is source events over drain wall time, the median over the
timed drains: from just before the first query starts until both have
ended. Building the DataFrame pipeline comes before the clock starts
(the traced run reports it as ``construct_s``); query start, planning
and the no-data batch that closes the last windows are inside.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sinks import start_parquet_sink

import spark_env
import streams as S

EVENTS = 80_000  # per stream
FILES = 16  # topic files per stream
WARM_DRAINS = 2  # untimed drains in set-up
DRAINS = 2  # timed drains per run


def stage(spark, topics: str, seed: int) -> None:
    src = S.seeded_source(spark, EVENTS, seed, lambda i: i).repartition(FILES)
    S.topic_frames(src).write.partitionBy("stream").text(topics)
    for s in S.STREAMS:
        os.rename(f"{topics}/stream={s}", f"{topics}/{s}")


def drain(spark, tr, topics: str, out: str, rec) -> dict:
    with tr.span("drain") as d:
        with tr.span("construct"):
            mood = S.mood_pipeline(spark, topics, tr)
            t_start = time.monotonic()
            with tr.span("sink_start"):
                q1 = start_parquet_sink(mood, f"{out}/pq", f"{out}/chk/pq", availableNow=True)
            q2, sink = S.start_doc_query(mood, f"{out}/docs", f"{out}/chk/docs", tr, "docs",
                                         availableNow=True)
        with tr.span("wait") as w:
            q1.awaitTermination()
            q2.awaitTermination()
    t_end = time.monotonic()
    S.sync_listeners(spark)
    return {"start": t_start, "end": t_end, "span": d, "wait": w, "sink": sink,
            "pq": S.progress_of(rec, str(q1.id)), "docs": S.progress_of(rec, str(q2.id)),
            "out": out}


def _check(spark, dr: dict, expected: list[tuple]) -> tuple[dict, int, int]:
    """Parquet rows equal the batch pipeline's finalized windows; the
    document rows equal the parquet rows without nulls."""
    wm = [p["watermark"] for p in dr["pq"] if p.get("watermark")]
    exp = S.closed(expected, S.parse_ts(wm[-1]) if wm else 0.0)
    pq = Counter(S.row_key(r.asDict()) for r in spark.read.parquet(f"{dr['out']}/pq").collect())
    docs = Counter(S.read_docs(f"{dr['out']}/docs"))
    ok = {"parquet": pq == exp and len(exp) > 0,
          "docs": docs == Counter({k: v for k, v in pq.items() if not S.has_null(k)})}
    return ok, sum(pq.values()), sum(docs.values())


def results(spark, tr, topics: str, done: list[dict], parent: int | None) -> dict:
    """Throughput, checks and layer numbers of the timed drains."""
    expected = S.batch_mood_rows(spark, topics)
    failed, checks, rows, docs_rows = 0, {}, [], []
    for dr in done:
        ok, n_rows, n_docs = _check(spark, dr, expected)
        shutil.rmtree(dr["out"], ignore_errors=True)
        for k, v in ok.items():
            checks[f"replay_{k}"] = checks.get(f"replay_{k}", True) and v
        failed += not all(ok.values())
        rows.append(n_rows)
        docs_rows.append(n_docs)

    for dr in done:
        if dr["span"] is not None:
            tr.spans[dr["span"]]["parent"] = parent
        S.trigger_spans(tr, dr["pq"], dr["wait"], "parquet")
        S.trigger_spans(tr, dr["docs"], dr["wait"], "docs", dr["sink"].span_ids)
    drain_s = [dr["end"] - dr["start"] for dr in done]
    pq_add = [sum(p["duration_ms"].get("addBatch", 0) for p in dr["pq"]) for dr in done]
    docs_add = [sum(p["duration_ms"].get("addBatch", 0) for p in dr["docs"]) for dr in done]
    sink_ms = sorted((c[2] - c[1]) * 1000.0 for dr in done for c in dr["sink"].calls)
    med = statistics.median
    layers = {
        # per drain, median over the timed drains
        "exec_s": med(a + b for a, b in zip(pq_add, docs_add)) / 1000.0,
        "parquet_addBatch_ms": med(pq_add),
        "drain_s": med(drain_s),
        # the two queries run at once: the longer one's addBatch total
        # over the drain's wall time
        "drain_addBatch_share": med(max(a, b) / 1000.0 / d
                                    for a, b, d in zip(pq_add, docs_add, drain_s)),
        "output_rows": med(rows),
        "docs_written": med(docs_rows),
        # over every micro-batch of the timed drains
        "engine_docs": S.phase_stats([p for dr in done for p in dr["docs"]]),
        "engine_parquet": S.phase_stats([p for dr in done for p in dr["pq"]]),
        "sink_doc_ms.p50": sink_ms[len(sink_ms) // 2] if sink_ms else 0.0,
    }
    return {"rate": med(3 * EVENTS / d for d in drain_s), "attempted": len(done),
            "failed": failed, "checks": checks, "layers": layers}


def local1_events_per_s(ctx) -> float:
    """Single-threaded baseline (traced runs only): one drain of the same
    backlog on a fresh ``local[1]`` session in the already warm JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.spark.stop()
    spark = ctx.spark = spark_env.start_session("perfbench")
    rec = S.Progress()
    spark.streams.addListener(rec)
    try:
        dr = drain(spark, ctx.tracer, f"{ctx.work}/topics", f"{ctx.work}/local1", rec)
    finally:
        spark.streams.removeListener(rec)
    S.trigger_spans(ctx.tracer, dr["pq"], dr["wait"], "parquet")
    S.trigger_spans(ctx.tracer, dr["docs"], dr["wait"], "docs", dr["sink"].span_ids)
    return 3 * EVENTS / (dr["end"] - dr["start"])
