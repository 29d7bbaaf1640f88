"""Shared pieces of the two phases of ``mood_stream``: seeded topic staging
with the program's own producer projections, the consumer wiring
(``parse_*`` → ``mood_stream``), the timed document sink, the engine
progress record and the batch reference used by the correctness checks.

Topics are file-stream directories of JSON lines, the transport
``streaming/app.py`` uses in place of Kafka.
"""

from __future__ import annotations

import calendar
import datetime as dt
import glob
import json
import os
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from data_engineering_demo_real_time_city_mood_tracker_spark.streaming import producers, sources
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.monitor import ProgressRecorder
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.mood_pipeline import mood_stream
from data_engineering_demo_real_time_city_mood_tracker_spark.streaming.sinks import (
    document_sink,
    jsonl_writer_factory,
)

STREAMS = ("traffic", "weather", "news")
PRODUCERS = {"traffic": producers.traffic_events, "weather": producers.weather_events,
             "news": producers.news_events}
PARSERS = {"traffic": sources.parse_traffic, "weather": sources.parse_weather,
           "news": sources.parse_news}
SIM_START = "2025-01-01 00:00:00"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def seed_base(seed: int) -> int:
    """Row-id offset of a seed: the md5-keyed producer projections pick
    different values for every seed, and the id ranges never overlap."""
    return (seed % 100_000) * 10_000_000


def seeded_source(spark, n: int, seed: int, ts_secs):
    """(id, ts) frame of ``n`` rows; ``ts_secs`` maps the row index
    column to seconds after SIM_START."""
    i = F.col("id")
    return spark.range(n).select(
        (i + F.lit(seed_base(seed))).alias("id"),
        (F.to_timestamp(F.lit(SIM_START)) + F.make_dt_interval(secs=ts_secs(i))).alias("ts"),
    )


def topic_frames(src):
    """All three topics as one (stream, value) frame: the producers'
    projections of ``src`` in their wire format (one JSON object per
    event), in stream order, then in ``src`` order."""
    frames = []
    for s in STREAMS:
        events = PRODUCERS[s](src)
        frames.append(events.select(
            F.lit(s).alias("stream"),
            F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("value")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def mood_pipeline(spark, topics: str, tracer):
    """Consumer side: one file-stream source per topic, parsed and fed
    to ``mood_stream``, each call under its own span."""
    typed = {}
    for s in STREAMS:
        with tracer.span(f"parse_{s}"):
            typed[s] = PARSERS[s](spark.readStream.text(f"{topics}/{s}"))
    with tracer.span("mood_stream"):
        return mood_stream(typed["traffic"], typed["weather"], typed["news"], producers.INTERSECTIONS)


def batch_mood_rows(spark, topics: str) -> list[tuple]:
    """Reference rows: the same files read as a batch through the same
    parsers and ``mood_stream`` (batch mode skips the watermark)."""
    typed = {s: PARSERS[s](spark.read.text(f"{topics}/{s}")) for s in STREAMS}
    out = mood_stream(typed["traffic"], typed["weather"], typed["news"], producers.INTERSECTIONS)
    return [row_key(r.asDict()) for r in out.collect()]


def row_key(d: dict) -> tuple:
    return (str(d["event_time"]), d["intersection"], d["avg_speed"], d["avg_temp"],
            d["weather"], d["sentiment"], d["mood"])


def has_null(key: tuple) -> bool:
    return any(v is None for v in key)


def closed(keys, watermark: float) -> Counter:
    """The rows among ``keys`` whose one-minute window ends at or before
    ``watermark`` (epoch seconds): the windows a streaming query has
    finalized once its watermark got there."""
    def window_end(key: tuple) -> float:
        return calendar.timegm(dt.datetime.fromisoformat(key[0]).timetuple()) + 60.0

    return Counter(k for k in keys if window_end(k) <= watermark)


def read_docs(docs_dir: str) -> list[tuple]:
    rows = []
    for path in glob.glob(os.path.join(docs_dir, "*.jsonl")):
        with open(path) as fh:
            rows.extend(row_key(json.loads(line)) for line in fh if line.strip())
    return rows


class TimedDocSink:
    """``document_sink`` with the JSON-lines writer, its foreachBatch
    callback timed from outside: one (batch_id, start, end) per call on
    the monotonic clock, and a ``sink_doc`` span per call when tracing.
    The spans hang under the span that was open where the sink was made
    until ``trigger_spans`` moves them under their batch's addBatch;
    ``span_ids`` keeps them per batch id for that."""

    def __init__(self, docs_dir: str, tracer, query: str):
        os.makedirs(docs_dir, exist_ok=True)
        self._inner = document_sink(jsonl_writer_factory(docs_dir))
        self._tracer = tracer
        self._query = query
        self._parent = tracer.current()
        self.calls: list[tuple[int, float, float]] = []
        self.span_ids: dict[int, list[int]] = {}

    def __call__(self, df, batch_id: int) -> None:
        w0, t0 = time.time(), time.monotonic()
        self._inner(df, batch_id)
        t1 = time.monotonic()
        self.calls.append((batch_id, t0, t1))
        sid = self._tracer.add("sink_doc", w0, w0 + (t1 - t0), self._parent,
                               query=self._query, batch_id=batch_id)
        if sid is not None:
            self.span_ids.setdefault(batch_id, []).append(sid)

    def end_of_batch(self) -> dict[int, float]:
        return {b: t1 for b, _, t1 in self.calls}


def start_doc_query(mood, docs_dir: str, chk: str, tracer, name: str, **trigger):
    sink = TimedDocSink(docs_dir, tracer, name)
    with tracer.span("sink_start"):
        writer = mood.writeStream.foreachBatch(sink).option("checkpointLocation", chk)
        if trigger:
            writer = writer.trigger(**trigger)
        q = writer.start()
    return q, sink


class Progress(ProgressRecorder):
    """The package's ProgressRecorder plus each batch's watermark."""

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        self.progress[-1]["watermark"] = (event.progress.eventTime or {}).get("watermark")


def sync_listeners(spark) -> None:
    """Block until the listener bus has delivered every posted event, so
    a recorder holds the progress of every finished batch."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def wall_minus_mono() -> float:
    """Offset that maps the monotonic clock onto wall-clock time."""
    return time.time() - time.monotonic()


def parse_ts(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def progress_of(rec: Progress, query_id: str) -> list[dict]:
    return sorted((p for p in rec.progress if p["query_id"] == query_id), key=lambda p: p["batch_id"])


def trigger_spans(tracer, progress: list[dict], parent: int | None, query: str,
                  sinks: dict[int, list[int]] | None = None) -> None:
    """Turn each micro-batch's progress into a ``trigger`` span with its
    phases laid out in execution order; sink callback spans of the same
    batch become children of its addBatch phase."""
    for p in progress:
        d = p["duration_ms"]
        t = parse_ts(p["timestamp"])
        trig = tracer.add("trigger", t, t + d.get("triggerExecution", 0) / 1000.0, parent,
                          query=query, batch_id=p["batch_id"])
        for ph in PHASES:
            ms = d.get(ph, 0)
            sid = tracer.add(ph, t, t + ms / 1000.0, trig, query=query, batch_id=p["batch_id"])
            if ph == "addBatch" and sinks:
                for span_id in sinks.get(p["batch_id"], ()):
                    tracer.spans[span_id]["parent"] = sid
            t += ms / 1000.0


def file_batches(chk: str) -> dict[str, int]:
    """Input file name → id of the micro-batch that read it.

    A file source numbers its own log entries, and only advances when it
    has new files, so its entry ids are not micro-batch ids: the
    checkpoint's offset log says which source offsets each micro-batch
    covers."""
    def lines(path: str) -> list[str]:
        with open(path) as fh:
            return fh.read().splitlines()

    def numbered(d: str) -> list[tuple[int, str]]:
        names = os.listdir(d) if os.path.isdir(d) else []
        return sorted((int(n.split(".")[0]), os.path.join(d, n)) for n in names
                      if n.split(".")[0].isdigit() and not n.endswith(".tmp"))

    src_files: dict[tuple[int, int], list[str]] = {}
    for i in range(len(STREAMS)):
        for _, path in numbered(os.path.join(chk, "sources", str(i))):
            for line in lines(path):
                if line.startswith("{"):
                    e = json.loads(line)
                    src_files.setdefault((i, e["batchId"]), []).append(os.path.basename(e["path"]))
    out, prev = {}, [-1] * len(STREAMS)
    for batch, path in numbered(os.path.join(chk, "offsets")):
        offsets = lines(path)[2:]
        for i, off in enumerate(offsets):
            if not off.startswith("{"):
                continue
            cur = json.loads(off)["logOffset"]
            for o in range(prev[i] + 1, cur + 1):
                for name in src_files.get((i, o), ()):
                    out[name] = batch
            prev[i] = max(prev[i], cur)
    return out


def phase_stats(progress: list[dict]) -> dict:
    """Engine-layer numbers of one query's micro-batches."""
    def p50(key):
        vals = [p["duration_ms"].get(key, 0) for p in progress]
        return statistics.median(vals) if vals else 0.0

    rows = sum(p["num_input_rows"] for p in progress)
    add = sum(p["duration_ms"].get("addBatch", 0) for p in progress)
    out = {"batches": len(progress), "input_rows": rows,
           "addBatch_ms": add,
           "addBatch_ms_per_krow": add / (rows / 1000.0) if rows else 0.0,
           "state_rows_total.max": max((p["state_rows_total"] for p in progress), default=0),
           "state_rows_updated": sum(p["state_rows_updated"] for p in progress),
           "trigger_ms.p50": p50("triggerExecution")}
    for ph in PHASES:
        out[f"{ph}_ms.p50"] = p50(ph)
    return out
