"""``mood_stream``: a consumer that catches up on a backlog, then serves
live traffic, through the app's streaming layers.

Set-up stages the backlog topics and the live events with the producers'
projections (row ids offset by the seed), then warms the JVM with
untimed drains of the backlog. The timed region has two phases:

- backlog (replay.py): closed-loop ``availableNow`` drains into the
  parquet and document sinks; gives ``throughput_per_s``, where the cost
  is per-row work (JSON parsing, fan-out union, stateful aggregation,
  sinks);
- live (live.py): an open-loop generator at a fixed event rate into the
  document sink, measured for the run's seconds; gives the latency
  metrics, where a micro-batch's cost is mostly fixed per-trigger work
  (planning, offsets, state store, sink call).
"""

from __future__ import annotations

import shutil
import time

import live
import replay
import streams as S


def run(ctx) -> dict:
    spark, tr, work = ctx.spark, ctx.tracer, ctx.work
    topics = f"{work}/topics"
    with tr.span("stage"):
        replay.stage(spark, topics, ctx.seed)
        live.stage(spark, f"{work}/live/staging", ctx.seed, ctx.seconds)
    rec = S.Progress()
    spark.streams.addListener(rec)
    try:
        with tr.span("warm"):
            for i in range(replay.WARM_DRAINS):
                shutil.rmtree(replay.drain(spark, tr, topics, f"{work}/warm{i}", rec)["out"])
        ctx.mark_setup_end()

        t0 = time.time()
        done = [replay.drain(spark, tr, topics, f"{work}/drain{i}", rec)
                for i in range(replay.DRAINS)]
        lv = live.run(spark, tr, f"{work}/live", ctx.seconds)
        ctx.mark_timed_end()
    finally:
        spark.streams.removeListener(rec)

    timed = tr.add("timed", t0, t0, None)
    rp = replay.results(spark, tr, topics, done, timed)
    lr = live.results(spark, tr, lv, rec, timed)
    if timed is not None:
        tr.spans[timed]["end"] = lr["end"]
    return {"latencies_ms": lr["latencies_ms"], "throughput": rp["rate"],
            "attempted": rp["attempted"] + lr["attempted"], "failed": rp["failed"] + lr["failed"],
            "checks": {**rp["checks"], **lr["checks"]}, "timed_span": timed,
            "layers": {**rp["layers"], **lr["layers"]},
            "samples": {"drains": len(done), "live_ticks": lr["attempted"],
                        "live_batches": lr["batch_ends"]}}
