"""``batch_ingest``: one generated mail log through the CLI batch path,
``__main__.main([log, "--out", dir])`` — read, Arrow parse, partitioned
fold, events/faults/state parquet.  A closed loop with one client: the
next ingest starts when the previous one returns.  Each ingest is timed
end to end, and its output is checked against the generator's ground
truth after the clock stops."""

from __future__ import annotations

import os
import statistics
import time

import gen
import stats

SESSIONS = 2000  # ~20k lines, one day
DEPTH = 64
STEP_S = 0.05
GEN_REPS = 3
NOMINAL_INGEST_S = 5.0  # one warm ingest on 4 cores


def generate_inputs(seed: int, in_dir: str, sessions: int = SESSIONS, depth: int = DEPTH,
                    step_s: float = STEP_S) -> tuple:
    """Generate the log ``GEN_REPS`` times (same seed, so the same bytes) and
    write it; returns (MailLog, path, bytes, median seconds)."""
    times = []
    os.makedirs(in_dir, exist_ok=True)
    path = os.path.join(in_dir, "mail.log")
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        log = gen.generate(seed, sessions, depth=depth, step_s=step_s)
        size = gen.write_lines(path, log.lines)
        times.append(time.perf_counter() - t0)
    return log, path, size, statistics.median(times)


def output_truth(out_dir: str) -> dict:
    """The CLI's output summarized like ``gen.Truth.as_dict``, read with
    DuckDB: the parquet files are the product being checked, and reading
    them outside Spark keeps the check from warming or loading the
    session between timed ingests."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT queue_id, status, status_code, message_id, domains_to FROM "
            f"read_parquet('{out_dir}/events/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        count = lambda d: con.execute(  # noqa: E731
            f"SELECT count(*) FROM read_parquet('{out_dir}/{d}/*.parquet')").fetchone()[0]
        return {
            "events": len(rows),
            "faults": count("faults"),
            "state": count("state"),
            "content_hash": gen.content_hash(gen.event_digest(*r) for r in rows),
        }
    finally:
        con.close()


class BatchIngest:
    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed

    def generate(self) -> float:
        """Generate the log; returns the median generation seconds."""
        self.log, self.path, self.log_bytes, gen_s = generate_inputs(
            self.seed, os.path.join(self.root, "in"))
        self.out = os.path.join(self.root, "out")
        return gen_s

    def setup(self) -> dict:
        """Generate the log, then run an untimed ingest to warm the JVM and
        the Python workers (checked like every timed one): the first ingest
        of a session takes about three times as long as later ones.  The
        next one is still ~10% slow; that trend is alike in every run, as a
        run makes a fixed number of ingests."""
        gen_s = self.generate()
        t0 = time.perf_counter()
        if not self._ingest_ok():
            raise RuntimeError("warm-up ingest output differs from the ground truth")
        return {"gen_s": gen_s, "warmup_s": time.perf_counter() - t0}

    def _ingest(self) -> float:
        from postfix_log_parser_spark.__main__ import main

        t0 = time.perf_counter()
        rc = main([self.path, "--out", self.out])
        dt = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"CLI exited with {rc}")
        return dt

    def _ingest_ok(self) -> bool:
        self._ingest()
        return output_truth(self.out) == self.log.truth.as_dict()

    def run(self, seconds: float) -> dict:
        """``seconds`` worth of ingests; each output is checked untimed."""
        lat, attempted, failed = [], 0, 0
        for _ in range(stats.ops_for(seconds, NOMINAL_INGEST_S)):
            attempted += 1
            try:
                lat.append(self._ingest())
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                print(f"[perfbench] ingest failed: {exc}", flush=True)
                failed += 1
                break
            if output_truth(self.out) != self.log.truth.as_dict():
                failed += 1
        return {
            "latencies": lat,
            # the median, like the latencies: a burst of load from outside
            # the benchmark that slows one ingest does not move it
            "throughput": len(self.log.lines) / statistics.median(lat) if lat else 0.0,
            "attempted": attempted,
            "failed": failed,
        }

    def describe(self) -> dict:
        return {
            "loop": "closed, 1 client",
            "lines": len(self.log.lines),
            "log_bytes": self.log_bytes,
            "sessions": self.log.sessions,
            "interleave_depth": self.log.depth,
            "days": round(self.log.days, 4),
            "truth": self.log.truth.as_dict(),
        }
