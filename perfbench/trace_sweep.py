"""The traced run: per-layer numbers for one workload.

Spans are recorded from this file around each public call into a layer,
with engine-counter deltas (status store) over each span.  Spark plans
lazily, so a layer's self time comes from nested prefixes of the batch
composition, each materialized on its own: scan, then + parse, then +
fold, then + sink; self time = prefix time minus the previous prefix.

Phases, on the workload's own inputs:

1. ingest — the CLI batch composition (``read_text`` → ``parse_lines_arrow``
   → ``sessionize`` → events/faults/state parquet), bare (``main``) and
   traced with a span per call, the two taking turns going first after
   one untimed ``main``; the ratio of the medians is the tracing
   overhead.  Then the prefix sweep.
2. stream — the CLI ``--stream`` path (events and faults queries) fed by
   an open-loop generator that drops one file per interval; progress comes
   from a ``StreamingQueryListener``.  The committed events must equal the
   batch pipeline's output on the same files.
3. table — every read shape through ``read_events`` + ``spark.sql`` with
   planning timed apart, and one takedown + re-ingest cycle.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import statistics
import sys
import threading
import time

import batch
import engine
import gen
import stats
import table

OVERHEAD_REPS = 2
PREFIX_REPS = 2
STREAM_SESSIONS = 1000
STREAM_FILES = 8
STREAM_INTERVAL_S = 1.0
STREAM_TIMEOUT_S = 60.0
STREAM_IDLE_S = 10.0


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _epoch(iso: str) -> float:
    """Seconds since the epoch of a progress report's UTC timestamp."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _executed_empty(p: dict) -> bool:
    """A micro-batch that ran (it has an addBatch phase) with no input."""
    return p["numInputRows"] == 0 and "addBatch" in p["durationMs"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Sweep:
    def __init__(self, spark, tracer: engine.Tracer, root: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.m: dict = {}
        self.checks = 0
        self.failed = 0

    def check(self, what: str, ok: bool) -> None:
        self.checks += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr, flush=True)

    # -- phase 1 -----------------------------------------------------------

    def ingest_phase(self, log_path: str, log_bytes: int, n_lines: int, truth: gen.Truth) -> str:
        from pyspark.sql import functions as F

        from postfix_log_parser_spark.__main__ import main
        from postfix_log_parser_spark.operators.parse import parse_lines_arrow
        from postfix_log_parser_spark.operators.sessionize import sessionize
        from postfix_log_parser_spark.sinks import write_events
        from postfix_log_parser_spark.sources.text import read_text

        sp, tr = self.spark, self.tracer
        out = os.path.join(self.root, "trace_out")

        def bare() -> float:
            t0 = time.perf_counter()
            rc = main([log_path, "--out", out])
            if rc != 0:
                raise RuntimeError(f"CLI exited with {rc}")
            return time.perf_counter() - t0

        def traced() -> float:
            with tr.span("ingest") as whole:
                with tr.span("sources.text.read_text"):
                    lines = read_text(sp, log_path)
                with tr.span("operators.parse.parse_lines_arrow"):
                    parsed = parse_lines_arrow(lines)
                with tr.span("operators.sessionize.sessionize"):
                    events, faults, state = sessionize(parsed, raw_lines=lines)
                with tr.span("sinks.write_events"):
                    write_events(events, f"{out}/events", mode="overwrite")
                with tr.span("faults.write"):
                    faults.write.mode("overwrite").parquet(f"{out}/faults")
                with tr.span("state.write"):
                    state.write.mode("overwrite").parquet(f"{out}/state")
                with tr.span("read_back"):  # the CLI's closing counts
                    sp.read.parquet(f"{out}/events").count()
                    sp.read.parquet(f"{out}/faults").count()
            self.check("traced ingest output", batch.output_truth(out) == truth.as_dict())
            return whole.seconds

        # an untimed ingest first (on events_table it is the session's first
        # CLI run); then bare and traced runs take turns going first, so the
        # session's warm-up trend does not favour one side of the ratio
        bare()
        bares, traceds = [], []
        for rep in range(OVERHEAD_REPS):
            if rep % 2:
                traceds.append(traced())
                bares.append(bare())
            else:
                bares.append(bare())
                traceds.append(traced())
        got = batch.output_truth(out)
        c = tr.last("ingest").counters
        self.m["trace.overhead_ratio"] = (_median(traceds) / _median(bares) - 1, "ratio")
        self.m["sources.text.read_text_s"] = (tr.last("sources.text.read_text").seconds, "s")
        self.m["sources.text.scan_bytes_per_input_byte"] = (c["input_bytes"] / log_bytes, "ratio")
        self.m["operators.sessionize.call_s"] = (tr.last("operators.sessionize.sessionize").seconds, "s")
        for k, unit in (("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "B"),
                        ("spill_bytes", "B"), ("failed_tasks", "count")):
            self.m[f"spark.{k}"] = (c[k], unit)
        files = glob.glob(f"{out}/events/**/*.parquet", recursive=True)
        self.m["sinks.bytes_per_event"] = (sum(map(os.path.getsize, files)) / max(1, got["events"]), "B")
        self.m["sinks.files_written"] = (len(files), "count")
        self.m["operators.sessionize.events"] = (got["events"], "count")
        self.m["operators.sessionize.faults"] = (got["faults"], "count")
        self.m["operators.sessionize.state_rows"] = (got["state"], "count")
        self.m["operators.sessionize.completion_ratio"] = (
            got["events"] / max(1, got["events"] + got["state"]), "ratio")

        # prefix sweep: each prefix materialized on its own, twice; medians
        # read_text runs its split-metadata job eagerly, so it is called
        # before the scan span: every prefix then reuses the built frame
        sweeps = []
        for _ in range(PREFIX_REPS):
            t = {}
            lines = read_text(sp, log_path)
            with tr.span("prefix.scan") as span:
                _noop(lines)
            t["scan"] = span.seconds
            with tr.span("prefix.parse") as span:
                parsed = parse_lines_arrow(lines)
                agg = parsed.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("admitted").cast("int")).alias("admitted"),
                    F.count("fault_reason").alias("faults"),
                ).collect()[0]
            t["parse"] = span.seconds
            events, _f, _s = sessionize(parsed, raw_lines=lines)
            with tr.span("prefix.fold") as span:
                _noop(events)
            t["fold"] = span.seconds
            t["fold_shuffle"] = span.counters["shuffle_write_bytes"]
            with tr.span("prefix.sink") as span:
                write_events(events, os.path.join(self.root, "trace_sink"), mode="overwrite")
            t["sink"] = span.seconds
            sweeps.append(t)
        med = {k: _median(t[k] for t in sweeps) for k in sweeps[0]}
        parse_self = max(med["parse"] - med["scan"], 1e-9)
        self.m["operators.parse.self_s"] = (parse_self, "s")
        self.m["operators.parse.lines_per_s"] = (n_lines / parse_self, "1/s")
        self.m["operators.parse.admitted_ratio"] = (agg["admitted"] / agg["n"], "ratio")
        self.m["operators.parse.fault_lines"] = (agg["faults"], "count")
        self.m["operators.sessionize.fold_self_s"] = (med["fold"] - med["parse"], "s")
        self.m["operators.sessionize.shuffle_bytes_per_line"] = (med["fold_shuffle"] / n_lines, "B")
        self.m["sinks.write_events_self_s"] = (med["sink"] - med["fold"], "s")
        return out

    # -- phase 2 -----------------------------------------------------------

    def stream_phase(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from postfix_log_parser_spark.__main__ import main
        from postfix_log_parser_spark.operators.parse import parse_lines_arrow
        from postfix_log_parser_spark.operators.sessionize import sessionize
        from postfix_log_parser_spark.sources.text import read_text

        sp = self.spark
        base = os.path.join(self.root, "stream")
        in_dir, stage = f"{base}/in", f"{base}/stage"
        os.makedirs(in_dir)
        os.makedirs(stage)
        log = gen.generate(self.seed + 1, STREAM_SESSIONS, depth=batch.DEPTH, step_s=batch.STEP_S)
        per = -(-len(log.lines) // STREAM_FILES)
        chunks = [log.lines[i:i + per] for i in range(0, len(log.lines), per)]
        removed_file = {}
        for f, chunk in enumerate(chunks):
            for ln in chunk:
                if ln.endswith(": removed"):
                    removed_file[ln.split()[3][:11]] = f

        progress: list = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        sp.streams.addListener(listener)
        due = [0.0] * len(chunks)
        lag = []
        state = {"drained": False, "error": None}

        def drained(since: float) -> bool:
            """Both queries finished a batch that started after ``since``:
            that batch listed every file, as the source takes all new files."""
            started = {p["id"] for p in list(progress)
                       if _epoch(p["timestamp"]) > since}
            return len(started) == 2

        def feed():
            try:
                t0 = time.time() + 2.0
                for f, chunk in enumerate(chunks):
                    due[f] = t0 + f * STREAM_INTERVAL_S
                    wait = due[f] - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    lag.append(time.time() - due[f])
                    tmp = f"{stage}/part-{f:05d}.log"
                    gen.write_lines(tmp, chunk)
                    os.replace(tmp, f"{in_dir}/part-{f:05d}.log")
                last_drop = time.time()
                deadline = last_drop + STREAM_TIMEOUT_S
                while time.time() < deadline:
                    if drained(last_drop):
                        state["drained"] = True
                        break
                    time.sleep(0.25)
                # give each query the chance to run its no-data batch
                idle_until = time.time() + STREAM_IDLE_S
                while state["drained"] and time.time() < idle_until:
                    if len({p["id"] for p in list(progress) if _executed_empty(p)}) == 2:
                        break
                    time.sleep(0.25)
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                state["error"] = exc
            finally:
                for q in sp.streams.active:
                    q.stop()

        feeder = threading.Thread(target=feed, name="feed")
        with self.tracer.span("streaming.cli"):
            feeder.start()
            try:
                main([in_dir, "--stream", "--out", f"{base}/out",
                      "--checkpoint", f"{base}/ck"])
            finally:
                feeder.join(STREAM_TIMEOUT_S + STREAM_IDLE_S + len(chunks) * STREAM_INTERVAL_S + 10)
                sp.streams.removeListener(listener)
        self.check("stream drained before the timeout", state["drained"] and not state["error"])

        # attribute events to the micro-batch that committed them: the file
        # sink's own log lists each batch's files
        ev_q = next(p["id"] for p in progress if len(p["sources"]) == 1)
        end_of = {}
        for p in progress:
            if p["id"] == ev_q and "addBatch" in p["durationMs"]:
                end_of[p["batchId"]] = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        import pyarrow.parquet as pq

        seen: set = set()
        latencies = []
        qids = []
        meta = f"{base}/out/events/_spark_metadata"
        for b in sorted(end_of):
            fn = f"{meta}/{b}" if os.path.exists(f"{meta}/{b}") else f"{meta}/{b}.compact"
            with open(fn) as fh:
                paths = {json.loads(ln)["path"] for ln in fh.read().splitlines()[1:] if ln}
            for path in sorted(paths - seen):
                for q in pq.read_table(path.replace("file://", ""), columns=["queue_id"]).column(0).to_pylist():
                    qids.append(q)
                    latencies.append(end_of[b] - due[removed_file[q]])
            seen |= paths
        lines = read_text(sp, in_dir)
        bev, bfa, _st = sessionize(parse_lines_arrow(lines), raw_lines=lines)
        brows = bev.select("queue_id", "status", "status_code", "message_id", "domains_to").collect()
        srows = sp.read.parquet(f"{base}/out/events").select(
            "queue_id", "status", "status_code", "message_id", "domains_to").collect()
        want = (len(brows), gen.content_hash(gen.event_digest(*r) for r in brows))
        got = (len(srows), gen.content_hash(gen.event_digest(*r) for r in srows))
        self.check(f"stream events {got} == batch events {want}", got == want)
        self.check("every stream event attributed to a batch", sorted(qids) == sorted(r[0] for r in srows))
        self.check("stream faults == batch faults",
                   sp.read.parquet(f"{base}/out/faults").count() == bfa.count())

        data = [p for p in progress if p["numInputRows"] > 0]
        empty = [p for p in progress if _executed_empty(p)]
        ev_data = [p for p in data if p["id"] == ev_q]
        ms = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
        self.m["streaming.batch_s"] = (_median(ms(p, "triggerExecution") for p in data), "s")
        self.m["streaming.add_batch_s"] = (_median(ms(p, "addBatch") for p in data), "s")
        self.m["streaming.query_planning_s"] = (_median(ms(p, "queryPlanning") for p in data), "s")
        self.m["streaming.empty_batch_s"] = (_median(ms(p, "triggerExecution") for p in empty), "s")
        self.m["streaming.state_commit_s"] = (_median(
            sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) / 1e3 for p in data), "s")
        last = ev_data[-1] if ev_data else {"stateOperators": []}
        self.m["streaming.state_rows"] = (sum(o["numRowsTotal"] for o in last["stateOperators"]), "count")
        self.m["streaming.state_memory_bytes"] = (
            sum(o["memoryUsedBytes"] for o in last["stateOperators"]), "B")
        self.m["streaming.rows_per_batch"] = (_median(p["numInputRows"] for p in ev_data), "count")
        # backlog: files dropped before a batch started but not yet consumed
        backlog, consumed = 0, 0
        for p in ev_data:
            start = _epoch(p["timestamp"])
            dropped = sum(1 for d in due if d <= start)
            backlog = max(backlog, dropped - consumed // per)
            consumed += p["numInputRows"]
        self.m["streaming.backlog_files"] = (backlog, "count")
        lat = stats.summarize(latencies) if latencies else {"p50": 0.0, "tail": 0.0}
        self.m["streaming.event_p50_s"] = (lat["p50"], "s")
        self.m["streaming.event_tail_s"] = (lat["tail"], "s")
        self.m["gen.lag_s"] = (max(lag) if lag else 0.0, "s")
        self.stream_detail = {
            "files": len(chunks), "lines": len(log.lines),
            "rate_lines_per_s": per / STREAM_INTERVAL_S, "event_latency": lat,
            "batches": len(data), "empty_batches": len(empty),
        }

    # -- phase 3 -----------------------------------------------------------

    def table_phase(self, wl: "table.EventsTable") -> None:
        from postfix_log_parser_spark.sinks import read_events

        sp, tr = self.spark, self.tracer
        plan, scanned, returned = [], 0, 0
        for _rep in range(3):
            for kind, _w in table.READ_MIX:
                params = wl._draw_params(kind)
                with tr.span(f"sinks.read_events.{kind}") as s:
                    read_events(sp, wl.table).createOrReplaceTempView("events")
                    df = sp.sql(table._SPARK_SQL[kind].format(**params))
                    t0 = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    plan.append(time.perf_counter() - t0)
                    rows = table.normalize(df.collect())
                scanned += s.counters["input_records"]
                returned += len(rows)
                self.check(f"read {kind} {params}", rows == wl.duck.query(kind, params))
        self.m["sinks.query_plan_s"] = (_median(plan), "s")
        self.m["sinks.read_events_rows_scanned_per_row_returned"] = (scanned / max(1, returned), "ratio")

        domain, day, _n = wl.rng.choice(wl.takedowns)
        from pyspark.sql import functions as F

        from postfix_log_parser_spark.sinks import (
            delete_events,
            overwrite_event_days,
            refresh_event_rollup,
        )

        pred = (F.col("domain_from") == domain) & (F.col("event_date") == F.lit(day).cast("date"))
        with tr.span("sinks.delete_events") as d:
            days = delete_events(sp, wl.table, pred)
        with tr.span("sinks.refresh_event_rollup") as r1:
            refresh_event_rollup(sp, wl.table, wl.rollup, days)
        with tr.span("sinks.overwrite_event_days") as o:
            overwrite_event_days(read_events(sp, f"{wl.snapshot}/event_date={day}"), wl.table)
        with tr.span("sinks.refresh_event_rollup") as r2:
            refresh_event_rollup(sp, wl.table, wl.rollup, [day])
        self.check("table restored after takedown + re-ingest",
                   wl.duck.content() == wl.base and wl.duck.rollup_matches())
        self.m["sinks.delete_events_s"] = (d.seconds, "s")
        self.m["sinks.overwrite_event_days_s"] = (o.seconds, "s")
        self.m["sinks.refresh_event_rollup_s"] = ((r1.seconds + r2.seconds) / 2, "s")


def run(name: str, seed: int, seconds: float, root: str) -> tuple:
    """Traced run of workload ``name``; returns (result, detail)."""
    from run import make_workload

    from postfix_log_parser_spark.sinks import write_event_rollup

    tracer = engine.Tracer(None, f"{name}-{seed}-{os.getpid()}")
    with tracer.span("session.get_spark"):
        spark, _ = engine.start_session()
    try:
        tracer.counters = engine.StageCounters(spark)
        wl = make_workload(name, spark, root, seed)
        wl.generate()
        sweep = Sweep(spark, tracer, root, seed)
        sweep.m["session.start_s"] = (tracer.last("session.get_spark").seconds, "s")
        out = sweep.ingest_phase(wl.path, wl.log_bytes, len(wl.log.lines), wl.log.truth)
        sweep.stream_phase()
        # the table phase runs on the ingest phase's events output: for
        # events_table that is the same table its set-up builds
        tbl = wl if name == "events_table" else table.EventsTable(spark, root, seed)
        tbl.table = f"{out}/events"
        write_event_rollup(spark, tbl.table, tbl.rollup)
        tbl.attach(wl.log.truth)
        sweep.table_phase(tbl)
    finally:
        engine.stop_session(spark)
    spans = tracer.records()
    result = {
        "correct": sweep.failed == 0,
        "attempted": sweep.checks,
        "failed": sweep.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(sweep.m.items())},
    }
    detail = {"workload": name, "seed": seed, "trace": True, "inputs": wl.describe(),
              "stream": sweep.stream_detail, "spans": spans}
    return result, detail
