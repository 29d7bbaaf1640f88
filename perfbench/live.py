"""Live phase of ``mood_stream``: open-loop freshness of the mood rows at
a fixed event rate.

A separate generator process publishes one file per stream every
PERIOD seconds (RATE events per second per stream) into file-stream
topics; the consumer is ``parse_*`` → ``mood_stream`` → ``document_sink``
with the default trigger. Event time runs SIM_SPEED times faster than
wall time, so windows close and the sink receives rows within a short
run, and one event in LATE_SHARE arrives a simulated minute late
(inside the 2-minute watermark).

One latency sample per tick: the files of the three streams due at the
same instant are one sample, from when they were due at the generator
to the end of the document-sink callback of the last micro-batch that
holds one of them (by the checkpoint's offset and file-source logs),
both on the monotonic clock. The query's first WARM_S seconds are not
measured; ticks due in the next ``seconds`` seconds are.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter, defaultdict

from pyspark.sql import functions as F

import streams as S

RATE = 500  # events per second per stream
PERIOD = 0.25  # seconds between files of one stream
SIM_SPEED = 30  # simulated seconds per wall second: one minute per 2 s
LATE_SHARE = 50
WARM_S = 6.0  # a new query's first triggers can take twice as long as later ones
LEAD_S = 0.3
HERE = os.path.dirname(os.path.abspath(__file__))


def stage(spark, staging: str, seed: int, seconds: float) -> int:
    """Serialize every event the generator will publish, with the
    producers' projections; returns the number of files per stream."""
    per_file = int(RATE * PERIOD)
    n_files = int(round((WARM_S + seconds) / PERIOD))
    base = S.seed_base(seed)

    def ts_secs(i):
        sim = F.floor((i / per_file).cast("long") * (PERIOD * SIM_SPEED))
        late = (F.abs(F.xxhash64(i + F.lit(base))) % LATE_SHARE == 0).cast("int") * 60
        return (sim - late).cast("long")

    src = S.seeded_source(spark, n_files * per_file, seed, ts_secs)
    # range → projection → union is a narrow plan: collect keeps row
    # order, so a row's position within its stream is its index
    rows = S.topic_frames(src).collect()
    os.makedirs(staging, exist_ok=True)
    for s in S.STREAMS:
        values = [r.value for r in rows if r.stream == s]
        with open(os.path.join(staging, f"{s}.txt"), "w") as fh:
            fh.writelines(f"{i // per_file}\t{v}\n" for i, v in enumerate(values))
    return n_files


def run(spark, tr, work: str, seconds: float) -> dict:
    """Start the query and the generator, wait for the generator, then
    let the query take in everything published."""
    staging, topics = f"{work}/staging", f"{work}/topics"
    chk, docs, manifest = f"{work}/chk", f"{work}/docs", f"{work}/manifest.json"
    for s in S.STREAMS:
        os.makedirs(f"{topics}/{s}", exist_ok=True)
    with tr.span("live_start") as start:
        with tr.span("construct"):
            mood = S.mood_pipeline(spark, topics, tr)
            q, sink = S.start_doc_query(mood, docs, chk, tr, "live")
    t0 = time.monotonic() + LEAD_S
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen_stream.py"), staging,
                            topics, str(PERIOD), repr(t0), manifest])
    try:
        rc = gen.wait(timeout=seconds + WARM_S + 60)
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")
        # returns once a trigger finds nothing to do, i.e. after the
        # watermark's no-data batch too
        q.processAllAvailable()
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
        S.sync_listeners(spark)
    with open(manifest) as fh:
        files = json.load(fh)["files"]
    return {"q": str(q.id), "sink": sink, "files": files, "start_span": start,
            "T0": t0 + WARM_S, "T1": t0 + WARM_S + seconds, "topics": topics, "chk": chk,
            "docs": docs}


def results(spark, tr, lv: dict, rec, parent: int | None) -> dict:
    """Latencies, checks and layer numbers of the live phase."""
    files, sink, T0, T1 = lv["files"], lv["sink"], lv["T0"], lv["T1"]
    prog = S.progress_of(rec, lv["q"])
    batch_of = S.file_batches(lv["chk"])
    sink_end = sink.end_of_batch()
    off = S.wall_minus_mono()  # progress timestamps are wall-clock
    trig_start = {p["batch_id"]: S.parse_ts(p["timestamp"]) - off for p in prog}

    ticks = defaultdict(list)  # due time → the sink end of each of its files
    for f in files:
        if T0 <= f["due"] < T1:
            ticks[f["due"]].append(sink_end.get(batch_of.get(f["file"], -1)))
    lat, failed, batch_ends = [], 0, set()
    for due, ends in ticks.items():
        if None in ends:
            failed += 1
        else:
            lat.append((max(ends) - due) * 1000.0)
            batch_ends.add(max(ends))
    if not lat:
        raise RuntimeError(f"no measured file reached the sink: {len(files)} files, "
                           f"{len(batch_of)} in source logs, sink batches {sorted(sink_end)}")

    # every generated row was read, and the finalized windows equal the
    # batch pipeline over the same files
    generated = sum(f["events"] for f in files)
    read = sum(p["num_input_rows"] for p in prog)
    done = [p for p in prog if p["batch_id"] in sink_end and p.get("watermark")]
    wm = S.parse_ts(done[-1]["watermark"]) if done else 0.0
    closed = S.closed(S.batch_mood_rows(spark, lv["topics"]), wm)
    expected = Counter({k: v for k, v in closed.items() if not S.has_null(k)})
    got = Counter(S.read_docs(lv["docs"]))
    checks = {"live_rows_read": read == generated,
              "live_windows": got == expected and len(expected) > 0}
    if not all(checks.values()):
        failed = len(ticks)

    if lv["start_span"] is not None:
        tr.spans[lv["start_span"]]["parent"] = parent
    S.trigger_spans(tr, prog, parent, "live", sink.span_ids)
    in_region = [p for p in prog if T0 <= trig_start[p["batch_id"]] < T1]
    sink_ms = sorted((b - a) * 1000.0 for _, a, b in sink.calls if T0 <= a < T1)
    layers = {
        "live_exec_s": sum(p["duration_ms"].get("addBatch", 0) for p in in_region) / 1000.0,
        "engine_live": S.phase_stats(in_region),
        "live_sink_doc_ms.p50": sink_ms[len(sink_ms) // 2] if sink_ms else 0.0,
        "live_docs_written": sum(got.values()),
        "generator_lag_ms.max": max((f["written"] - f["due"]) * 1000.0 for f in files),
        "backlog_files.end": sum(1 for f in files if f["due"] < T1
                                 and trig_start.get(batch_of.get(f["file"], -1), 1e18) > T1),
        "windows_finalized": len(expected),
    }
    return {"latencies_ms": lat, "attempted": len(ticks), "failed": failed, "checks": checks,
            "layers": layers, "batch_ends": len(batch_ends), "end": max(sink_end.values()) + off}
