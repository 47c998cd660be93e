"""``events_table``: analyst reads beside maintenance writes on a
date-partitioned events table.

Set-up ingests a multi-day log once (``read_text`` → ``parse_lines_arrow``
→ ``sessionize`` → ``write_events``) and builds the daily rollup.  Then one
closed-loop client runs a seeded mix in cycles of ``READS_PER_CYCLE``
reads followed by two maintenance writes: a takedown (``delete_events``
of one sender domain on one day, then ``refresh_event_rollup``) and a
one-day re-ingest (``overwrite_event_days`` from a copy of that day, then
``refresh_event_rollup``) that restores what the takedown removed.  So the
table holds the same rows whenever a read runs, and every read is checked
against DuckDB over the same parquet after the clock stops.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import statistics
import sys
import time

import batch
import gen
import stats

SESSIONS = 3000  # ~30k lines
DEPTH = 64
DAYS = 3
READS_PER_CYCLE = 18  # + 2 writes: 10% of the operations are writes
NOMINAL_CYCLE_S = 5.0  # one warm cycle on 4 cores

# (kind, weight); parameters are drawn per operation from the seeded rng
READ_MIX = (
    ("status_by_day", 10),
    ("top_sender_domains", 15),
    ("deferral_rate_by_rcpt_domain", 15),
    ("delay_percentiles_by_relay", 10),
    ("hourly_volume", 10),
    ("lookup_queue_id", 20),
    ("lookup_message_id", 20),
)

# a double division, not avg(): the engines' decimal avg scales differ
_DEFERRAL_RATE = "CAST(sum(CASE WHEN status = 'deferred' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"

_SPARK_SQL = {
    "status_by_day": (
        "SELECT CAST(to_date(timestamp) AS STRING) AS d, status, count(*) AS n "
        "FROM events GROUP BY 1, 2"),
    "top_sender_domains": (
        "SELECT domain_from, count(*) AS n FROM events "
        "WHERE timestamp >= TIMESTAMP '{lo}' AND timestamp < TIMESTAMP '{hi}' "
        "GROUP BY domain_from ORDER BY n DESC, domain_from LIMIT 10"),
    "deferral_rate_by_rcpt_domain": (
        f"SELECT d, count(*) AS n, {_DEFERRAL_RATE} AS r "
        "FROM (SELECT explode(domains_to) AS d, status FROM events) GROUP BY d"),
    "delay_percentiles_by_relay": (
        "SELECT relay, count(*) AS n, percentile(CAST(delay AS DOUBLE), 0.5) AS p50, "
        "percentile(CAST(delay AS DOUBLE), 0.9) AS p90 FROM events GROUP BY relay"),
    "hourly_volume": (
        "SELECT hour(timestamp) AS h, count(*) AS n FROM events "
        "WHERE to_date(timestamp) = DATE '{day}' GROUP BY 1"),
    "lookup_queue_id": (
        "SELECT queue_id, status, status_code, message_id, domains_to FROM events "
        "WHERE queue_id = '{key}'"),
    "lookup_message_id": (
        "SELECT queue_id, status, status_code, message_id, domains_to FROM events "
        "WHERE message_id = '{key}'"),
}

# the same questions in DuckDB's dialect
_DUCK_SQL = dict(_SPARK_SQL)
_DUCK_SQL.update({
    "status_by_day": (
        "SELECT CAST(CAST(timestamp AS DATE) AS VARCHAR) AS d, status, count(*) AS n "
        "FROM events GROUP BY 1, 2"),
    "deferral_rate_by_rcpt_domain": (
        f"SELECT d, count(*) AS n, {_DEFERRAL_RATE} AS r "
        "FROM (SELECT unnest(domains_to) AS d, status FROM events) GROUP BY d"),
    "delay_percentiles_by_relay": (
        "SELECT relay, count(*) AS n, quantile_cont(CAST(delay AS DOUBLE), 0.5) AS p50, "
        "quantile_cont(CAST(delay AS DOUBLE), 0.9) AS p90 FROM events GROUP BY relay"),
    "hourly_volume": (
        "SELECT hour(timestamp) AS h, count(*) AS n FROM events "
        "WHERE CAST(timestamp AS DATE) = DATE '{day}' GROUP BY 1"),
})


def normalize(rows) -> list:
    """Rows as sorted tuples; floats rounded, sequences as tuples."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, (list, tuple)):
                v = tuple(v)
            elif hasattr(v, "as_tuple") or isinstance(v, float):  # Decimal, float
                v = round(float(v), 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _check(what: str, *conds) -> bool:
    """True (one failure) unless every condition holds; says which failed."""
    if all(conds):
        return False
    print(f"[perfbench] check failed: {what}: {conds}", file=sys.stderr, flush=True)
    return True


class Duck:
    """DuckDB over the parquet files of the events table and the rollup."""

    def __init__(self, table: str, rollup: str):
        import duckdb

        self.con = duckdb.connect()
        self.table, self.rollup = table, rollup

    def _events(self) -> str:
        return (f"read_parquet('{self.table}/*/*.parquet', hive_partitioning = true)")

    def query(self, kind: str, params: dict) -> list:
        sql = _DUCK_SQL[kind].format(**params).replace("FROM events", f"FROM {self._events()}")
        return normalize(self.con.execute(sql).fetchall())

    def content(self) -> dict:
        rows = self.con.execute(
            "SELECT queue_id, status, status_code, message_id, domains_to FROM "
            + self._events()).fetchall()
        return {"events": len(rows),
                "content_hash": gen.content_hash(gen.event_digest(*r) for r in rows)}

    def count(self, where: str) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {self._events()} WHERE {where}").fetchone()[0]

    def rollup_matches(self) -> bool:
        """The rollup's per-day counts and status sums equal a fresh
        aggregate of the events table."""
        mv = self.con.execute(
            f"SELECT CAST(event_date AS VARCHAR), n_events, sum_status FROM read_parquet("
            f"'{self.rollup}/*/*.parquet', hive_partitioning = true)").fetchall()
        fresh = self.con.execute(
            f"SELECT CAST(CAST(timestamp AS DATE) AS VARCHAR), count(*), sum(status_code) "
            f"FROM {self._events()} GROUP BY 1").fetchall()
        return sorted(mv) == sorted(fresh)


def build_table(spark, log_path: str, table: str, rollup: str) -> None:
    """Set-up ingest: the engine's batch composition into ``write_events``,
    then the daily rollup."""
    from postfix_log_parser_spark.operators.parse import parse_lines_arrow
    from postfix_log_parser_spark.operators.sessionize import sessionize
    from postfix_log_parser_spark.sinks import write_event_rollup, write_events
    from postfix_log_parser_spark.sources.text import read_text

    lines = read_text(spark, log_path)
    events, _faults, _state = sessionize(parse_lines_arrow(lines), raw_lines=lines)
    write_events(events, table, mode="overwrite")
    write_event_rollup(spark, table, rollup)


class EventsTable:
    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.table = os.path.join(root, "events")
        self.rollup = os.path.join(root, "rollup")
        self.snapshot = os.path.join(root, "events_snapshot")

    def generate(self) -> float:
        """Generate the log; returns the median generation seconds."""
        step = DAYS * 86400 / (SESSIONS * 9.9)  # the mix averages 9.9 lines a session
        self.log, self.path, self.log_bytes, gen_s = batch.generate_inputs(
            self.seed, os.path.join(self.root, "in"), sessions=SESSIONS, depth=DEPTH,
            step_s=step)
        return gen_s

    def setup(self) -> dict:
        """Generate the log, build the table and check it, then run two
        untimed cycles, the first with each read shape once: the first
        reads of a session run up to twice as slow as later ones, and
        reads still speed up by a fifth over the next hundred."""
        gen_s = self.generate()
        t0 = time.perf_counter()
        build_table(self.spark, self.path, self.table, self.rollup)
        build_s = time.perf_counter() - t0
        self.attach(self.log.truth)
        t0 = time.perf_counter()
        for kinds in ([k for k, _ in READ_MIX], self._draw_kinds()):
            warm = self._cycle(kinds)
            if warm["failed"] or self._verify_reads(warm["results"]):
                raise RuntimeError("warm-up cycle failed its checks")
        return {"gen_s": gen_s, "build_s": build_s, "warmup_s": time.perf_counter() - t0}

    def attach(self, truth) -> None:
        """Check the built table against ``truth``, keep a copy for the
        re-ingest and draw the read parameters from its contents."""
        shutil.copytree(self.table, self.snapshot)
        self.duck = Duck(self.table, self.rollup)
        base = self.duck.content()
        want = {k: truth.as_dict()[k] for k in ("events", "content_hash")}
        if base != want:
            raise RuntimeError(f"events table {base} differs from the ground truth {want}")
        self.base = base
        con = self.duck.con
        ev = self.duck._events()
        self.keys = con.execute(
            f"SELECT queue_id, message_id FROM {ev} ORDER BY queue_id").fetchall()
        self.days = [str(r[0]) for r in con.execute(
            f"SELECT DISTINCT CAST(event_date AS VARCHAR) FROM {ev} ORDER BY 1").fetchall()]
        self.t_lo, self.t_hi = con.execute(
            f"SELECT min(timestamp), max(timestamp) FROM {ev}").fetchone()
        # takedown targets: (sender domain, day) pairs, with their row counts
        self.takedowns = con.execute(
            f"SELECT domain_from, CAST(event_date AS VARCHAR), count(*) FROM {ev} "
            "GROUP BY 1, 2 ORDER BY 1, 2").fetchall()
        self.rng = random.Random(self.seed * 7919 + 1)

    def _draw_params(self, kind: str) -> dict:
        rng = self.rng
        if kind == "top_sender_domains":
            span = (self.t_hi - self.t_lo).total_seconds()
            lo = self.t_lo + datetime.timedelta(seconds=rng.uniform(0, max(0.0, span - 7200)))
            lo = lo.replace(microsecond=0)
            return {"lo": str(lo), "hi": str(lo + datetime.timedelta(hours=2))}
        if kind == "hourly_volume":
            return {"day": rng.choice(self.days)}
        if kind == "lookup_queue_id":
            return {"key": rng.choice(self.keys)[0]}
        if kind == "lookup_message_id":
            return {"key": rng.choice(self.keys)[1]}
        return {}

    def _read(self, kind: str, params: dict) -> list:
        from postfix_log_parser_spark.sinks import read_events

        read_events(self.spark, self.table).createOrReplaceTempView("events")
        return normalize(self.spark.sql(_SPARK_SQL[kind].format(**params)).collect())

    def takedown(self, domain: str, day: str) -> list:
        from pyspark.sql import functions as F

        from postfix_log_parser_spark.sinks import delete_events, refresh_event_rollup

        pred = (F.col("domain_from") == domain) & (F.col("event_date") == F.lit(day).cast("date"))
        days = delete_events(self.spark, self.table, pred)
        refresh_event_rollup(self.spark, self.table, self.rollup, days)
        return days

    def reingest(self, day: str) -> None:
        from postfix_log_parser_spark.sinks import (
            overwrite_event_days,
            read_events,
            refresh_event_rollup,
        )

        overwrite_event_days(read_events(self.spark, f"{self.snapshot}/event_date={day}"),
                             self.table)
        refresh_event_rollup(self.spark, self.table, self.rollup, [day])

    def _draw_kinds(self) -> list:
        """``READS_PER_CYCLE`` read shapes drawn by the mix's weights."""
        kinds = [k for k, _ in READ_MIX]
        weights = [w for _, w in READ_MIX]
        return [self.rng.choices(kinds, weights)[0] for _ in range(READS_PER_CYCLE)]

    def _cycle(self, kinds: list) -> dict:
        """Seeded reads of the given shapes, a takedown and the re-ingest
        that undoes it; the writes are checked at once, the reads are
        returned for checking against DuckDB."""
        reads, maint, results, failed = [], [], [], 0
        for kind in kinds:
            params = self._draw_params(kind)
            t0 = time.perf_counter()
            rows = self._read(kind, params)
            reads.append(time.perf_counter() - t0)
            results.append((kind, params, rows))
        domain, day, n = self.rng.choice(self.takedowns)
        t0 = time.perf_counter()
        days = self.takedown(domain, day)
        maint.append(time.perf_counter() - t0)
        gone = self.duck.count(f"domain_from = '{domain}' AND event_date = DATE '{day}'") == 0
        left = self.duck.count("true") == self.base["events"] - n
        failed += _check("takedown", days == [day], gone, left, self.duck.rollup_matches())
        t0 = time.perf_counter()
        self.reingest(day)
        maint.append(time.perf_counter() - t0)
        failed += _check("re-ingest", self.duck.content() == self.base,
                         self.duck.rollup_matches())
        return {"reads": reads, "maint": maint, "results": results, "failed": failed}

    def _verify_reads(self, results) -> int:
        """Every read saw the base table: check each against DuckDB; returns
        the number that differ."""
        expected: dict = {}
        failed = 0
        for kind, params, rows in results:
            key = (kind, tuple(sorted(params.items())))
            if key not in expected:
                expected[key] = self.duck.query(kind, params)
            failed += _check(f"read {key}", rows == expected[key])
        return failed

    def run(self, seconds: float) -> dict:
        reads, maint, results, rates = [], [], [], []
        failed = 0
        for _ in range(stats.ops_for(seconds, NOMINAL_CYCLE_S)):
            c = self._cycle(self._draw_kinds())
            ops = c["reads"] + c["maint"]
            rates.append(len(ops) / sum(ops))
            reads += c["reads"]
            maint += c["maint"]
            results += c["results"]
            failed += c["failed"]
        failed += self._verify_reads(results)
        return {
            "latencies": reads,
            "maint_latencies": maint,
            "throughput": statistics.median(rates),  # operations per second, per cycle
            "attempted": len(reads) + len(maint),
            "failed": failed,
        }

    def describe(self) -> dict:
        return {
            "loop": "closed, 1 client",
            "mix": {k: w for k, w in READ_MIX},
            "reads_per_cycle": READS_PER_CYCLE,
            "writes_per_cycle": ["delete_events+refresh_event_rollup",
                                 "overwrite_event_days+refresh_event_rollup"],
            "lines": len(self.log.lines),
            "log_bytes": self.log_bytes,
            "sessions": self.log.sessions,
            "interleave_depth": self.log.depth,
            "days": round(self.log.days, 4),
            "table_days": self.days,
            "truth": self.log.truth.as_dict(),
        }
