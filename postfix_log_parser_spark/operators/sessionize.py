"""Stage 2 — batch sessionizer: parsed lines → (events, faults, state).

The reference keeps per-``queue_id`` mutable dict state and finalizes a
session when a ``removed`` marker arrives (``lognormalizer/parse.py:
218-423``).  Sessions are marker-terminated (not gap-terminated), the fold
is order-sensitive (quirks Q1-Q4), and a failed finalization (missing
required field → KeyError) leaves the session open (``parse.py:352-353``:
the ``del`` only runs after a successful event construction).

Spark design — three interchangeable fold strategies, one semantics:

* ``partitioned`` (default): ``repartition(queue_id)`` +
  ``sortWithinPartitions(queue_id, seq)`` + a linear ``mapInPandas`` scan
  running the ``_QueueFolder`` state machine over contiguous queue runs.
  One hash shuffle (the irreducible co-location cost of any keyed fold),
  then ~1µs/row Python — measured ~6× faster than the Catalyst expression
  fold at 100k lines and ~6-30× at 1M.  An order-sensitive multi-key
  state machine is precisely the case where built-in operators can't
  express the semantics efficiently (interpreted higher-order lambdas),
  so this is the sanctioned mapInPandas escape hatch.
* ``catalyst``: the pure-expression fold (``_fold_native``) — zero Python
  on the fold path; kept as a working alternative and differential check.
* ``pandas``: per-group ``applyInPandas`` oracle — the most direct
  transcription of the reference's ``feed_line`` loop; used by the quirk
  tests as the ground truth all strategies must match.
* Everything *after* the fold — event projection (P4 P5 P6 P11 P12), the
  dovecot correlation join (J1), fault splitting — is native Catalyst.
* The dovecot join replaces the reference's O(open-sessions) linear scan
  per dovecot line (``parse.py:373-375``) with a broadcast hash join on
  msgid validity intervals: exact order semantics (a dovecot line updates a
  session iff the session's *current* ``message-id`` value at that point in
  the log equals the msgid and the session has not been removed yet), at
  hash-join cost.

Known divergences (documented, pathological inputs only): ``k=v`` tokens
named ``raw_log`` or ``timestamp`` would corrupt the reference's state
dict in ways we do not replicate (SURVEY.md §2.10 discussion).
"""

from __future__ import annotations

from bisect import bisect_left
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postfix_log_parser_spark.functions.columns import (
    angle_trim,
    domain_of,
    ordered_distinct,
    status_code_pair,
)
from postfix_log_parser_spark.schema import EVENT_COLUMNS

FOLD_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType(), False),
        # nullable: the fused engine routes PRE-fold faults (short dovecot
        # lines, Q8 — no queue id) through this schema too
        T.StructField("queue_id", T.StringType(), True),
        T.StructField("start_seq", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("to_list", T.ArrayType(T.StringType()), True),
        T.StructField("raw_log", T.ArrayType(T.StringType()), True),
        T.StructField("removed_seq", T.LongType(), True),
        T.StructField(
            "msgid_intervals",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("msgid", T.StringType(), True),
                        T.StructField("lo", T.LongType(), True),
                        T.StructField("hi", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("kv_dovecot_seq", T.LongType(), True),
        T.StructField("fault_reason", T.StringType(), True),
        T.StructField("fault_line", T.StringType(), True),
        T.StructField("fault_seq", T.LongType(), True),
        # J1 final action, resolved in-fold when the partitioned fold
        # carries the broadcast dovecot map; null for the catalyst/pandas
        # folds, whose resolution stays in the Catalyst stage
        T.StructField("dovecot_final", T.StringType(), True),
    ]
)

_REQUIRED_KEYS = ("from", "to", "message-id", "status", "status_description")

_FOLD_COLUMNS = [f.name for f in FOLD_SCHEMA.fields]


def _fault_tuple(queue_id, start_seq, reason, line, seq) -> tuple:
    """FOLD_SCHEMA row for one fault: a fold fault (Q4/Q12, raised inside
    a session) or a pre-fold fault (Q8, never entered state — no
    ``start_seq``)."""
    return ("fault", queue_id, start_seq, None, None, None, None, None,
            None, None, reason, line, seq, None)


class _QueueFolder:
    """The per-queue state machine: an exact transcription of ``feed_line``
    (``parse.py:380-423``) + ``PostfixEvent.__init__`` required-key checks
    (``parse.py:143-150``), including Q4 (a failed ``removed`` leaves the
    session open; its line stays in raw_log).  Shared by the partitioned
    fold (default), the per-group pandas oracle, and nothing else — one
    source of truth for the fold semantics."""

    __slots__ = (
        "queue_id",
        "fields",
        "to_list",
        "raw_log",
        "first_ts",
        "start_seq",
        "msgid_sets",
        "kv_dovecot_seq",
        "out",
        "dov",
    )

    def __init__(self, queue_id: str, out: list, dov: dict | None = None):
        self.queue_id = queue_id
        self.out = out
        self.dov = dov
        self.fields: dict[str, str] = {}
        self.to_list: list[str] = []
        self.raw_log: list[str] = []
        self.first_ts = None
        self.start_seq = None
        self.msgid_sets: list[tuple[int, str]] = []  # (seq, bracketed value)
        self.kv_dovecot_seq = None

    def _intervals(self, removed_seq):
        ms = self.msgid_sets
        return [
            {
                "msgid": v,
                "lo": int(s),
                "hi": int(ms[i + 1][0]) if i + 1 < len(ms) else removed_seq,
            }
            for i, (s, v) in enumerate(ms)
        ]

    def _resolve_final(self, removed_seq):
        """In-fold J1 resolution (broadcast-map fast path): the max-dseq
        sieve line whose dseq falls inside any msgid validity interval —
        the same predicate as the Catalyst array expression, but O(log n)
        per interval via bisect on the per-msgid sorted dseq list, instead
        of an O(sessions x sieve-lines) interpreted array scan."""
        best_seq = None
        best_action = None
        dov = self.dov
        ms = self.msgid_sets
        for i, (lo, msgid) in enumerate(ms):
            ent = dov.get(msgid)
            if ent is None:
                continue
            seqs, actions = ent
            hi = ms[i + 1][0] if i + 1 < len(ms) else removed_seq
            idx = (len(seqs) if hi is None else bisect_left(seqs, hi)) - 1
            if idx >= 0 and seqs[idx] > lo and (best_seq is None or seqs[idx] > best_seq):
                best_seq = seqs[idx]
                best_action = actions[idx]
        kv = self.kv_dovecot_seq
        # the later setter wins: k=v token vs the dovecot handler
        if best_seq is not None and (kv is None or best_seq > kv):
            return best_action
        return self.fields.get("dovecot_fileinto_action")

    def _session_row(self, record_type, removed_seq):
        return (
            record_type,
            self.queue_id,
            self.start_seq,
            self.first_ts,
            dict(self.fields),
            list(self.to_list),
            list(self.raw_log),
            removed_seq,
            self._intervals(removed_seq),
            self.kv_dovecot_seq,
            None,
            None,
            None,
            self._resolve_final(removed_seq) if self.dov is not None else None,
        )

    def _fault_row(self, reason, line, seq):
        return _fault_tuple(self.queue_id, self.start_seq, reason, line, seq)

    def feed(self, seq, line, kind, timestamp, fields, to_list, status_description,
             subject, fault_reason):
        if self.start_seq is None:
            self.start_seq = seq
        self.raw_log.append(line)
        if self.first_ts is None:
            self.first_ts = timestamp

        if fault_reason is not None:
            # admitted line that raised in the reference (Q12): already in
            # raw_log, fields untouched, routed to on_fault
            self.out.append(self._fault_row(fault_reason, line, seq))
            return

        if kind == "removed":
            f = self.fields
            missing = None
            for k in _REQUIRED_KEYS:
                if (k == "to" and not self.to_list) or (k != "to" and k not in f):
                    missing = k
                    break
            if missing is None:
                self.out.append(self._session_row("event", seq))
                self.fields, self.to_list, self.raw_log = {}, [], []
                self.first_ts, self.start_seq = None, None
                self.msgid_sets, self.kv_dovecot_seq = [], None
            else:
                # Q4: KeyError → fault; state entry survives (del never ran)
                self.out.append(
                    self._fault_row(f"KeyError: '{missing}'", line, seq)
                )
            return

        if kind == "subject":
            self.fields["subject"] = subject
            return

        # field / admitted-dovecot line: fold k=v map, to-list, description
        if fields is not None:
            for k, v in dict(fields).items():
                self.fields[k] = v
                if k == "message-id":
                    self.msgid_sets.append((seq, v))
                elif k == "dovecot_fileinto_action":
                    self.kv_dovecot_seq = seq
        if to_list is not None and len(to_list) > 0:
            self.to_list.extend(list(to_list))
        if status_description is not None:
            self.fields["status_description"] = status_description

    def close(self):
        if self.start_seq is not None:
            self.out.append(self._session_row("state", None))


def _feed_frame(folder_of, pdf: pd.DataFrame, out: list) -> None:
    """Push one (queue-sorted) pandas frame through per-queue folders.
    Non-admitted rows are pre-fold faults (Q8): they go straight to
    ``out`` without touching any session."""
    ts_col = pdf["timestamp"]
    for i, row in enumerate(pdf.itertuples(index=False)):
        if not row.admitted:
            out.append(
                _fault_tuple(row.queue_id, None, row.fault_reason, row.line,
                             int(row.seq))
            )
            continue
        ts = ts_col.iloc[i]
        folder_of(row.queue_id).feed(
            int(row.seq),
            row.line,
            row.kind,
            None if pd.isna(ts) else ts.to_pydatetime(),
            row.fields,
            row.to_list,
            None if row.status_description is None else row.status_description,
            row.subject,
            row.fault_reason,
        )


def _fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas oracle: replay ONE queue_id's lines in seq order."""
    pdf = pdf.sort_values("seq")
    out: list = []
    folder = _QueueFolder(pdf["queue_id"].iloc[0], out)
    _feed_frame(lambda q: folder, pdf, out)
    folder.close()
    return pd.DataFrame(out, columns=_FOLD_COLUMNS)


def _prefold_partitions(batches, dov: dict | None = None) -> "Any":
    """mapInPandas fold over a queue-partitioned, (queue_id, seq)-sorted
    stream: rows for one queue are contiguous and ordered, so a linear
    scan with one live folder per queue-run replays every session at
    Python-dict speed (the reference's own per-line cost), with none of
    the per-tiny-group scheduling overhead of applyInPandas.  Pre-fold
    fault rows (Q8, not admitted) ride the same stream and come out as
    fault rows, so every output of ``sessionize`` derives from this one
    fold."""
    out: list = []
    live: dict[str, _QueueFolder] = {}
    current: list = [None]  # [folder] — queue runs are contiguous

    def folder_of(q: str) -> _QueueFolder:
        f = current[0]
        if f is not None and f.queue_id == q:
            return f
        f = live.get(q)
        if f is None:
            f = _QueueFolder(q, out, dov)
            live[q] = f
        current[0] = f
        return f

    for pdf in batches:
        _feed_frame(folder_of, pdf, out)
        if len(out) >= 10_000:
            yield pd.DataFrame(out, columns=_FOLD_COLUMNS)
            out.clear()
            for f in live.values():
                f.out = out
    for f in live.values():
        f.close()
    if out:
        yield pd.DataFrame(out, columns=_FOLD_COLUMNS)


def _fold_partitioned(feed: DataFrame, dov_bc=None) -> DataFrame:
    """Default batch fold: ONE hash shuffle (repartition on queue_id) +
    in-partition sort + linear Arrow-batched scan.

    Scale shape: identical shuffle volume to any keyed fold (the data must
    co-locate per key once); the per-row work is a Python dict state
    machine at ~1µs/row — measured ~30× faster than the interpreted
    Catalyst array-expression fold at 1M lines, and the same design holds
    on a 1000-executor cluster (partitions stay bounded by
    spark.sql.shuffle.partitions; per-queue data is a 5-20 line session,
    uniform hex key → no skew).

    ``dov_bc`` (a SparkContext broadcast of {msgid: (sorted dseqs,
    actions)}) enables in-fold J1 resolution: each emitted session looks
    its msgid intervals up in the executor-local hash map, so the J1 cost
    is O(sessions x intervals x log sieve-lines) — replacing the
    Catalyst broadcast-array scan, which is O(sessions x sieve-lines)
    interpreted and dominates end-to-end time once sieve lines number in
    the thousands."""
    arranged = feed.repartition(F.col("queue_id")).sortWithinPartitions(
        "queue_id", "seq"
    )
    if dov_bc is None:
        return arranged.mapInPandas(_prefold_partitions, FOLD_SCHEMA)
    return arranged.mapInPandas(
        lambda batches: _prefold_partitions(batches, dov_bc.value), FOLD_SCHEMA
    )


def _fused_batches(batches, dov: dict) -> "Any":
    """Fused parse+fold worker: each (key, seq)-sorted raw line is parsed
    (``_parse_row``, the Arrow engine's per-line twin) and immediately fed
    to its queue's folder — parse output never crosses a process or
    serialization boundary.  Non-admitted lines either emit a pre-fold
    fault row (dovecot-shape IndexError, Q8/Q12) or are dropped in place."""
    from postfix_log_parser_spark.operators.parse import _parse_row

    out: list = []
    live: dict[str, _QueueFolder] = {}
    current: list = [None]

    def folder_of(q: str) -> _QueueFolder:
        f = current[0]
        if f is not None and f.queue_id == q:
            return f
        f = live.get(q)
        if f is None:
            f = _QueueFolder(q, out, dov)
            live[q] = f
        current[0] = f
        return f

    for pdf in batches:
        seqs = pdf["seq"].to_numpy()
        vals = pdf["value"].to_numpy()
        for i in range(len(pdf)):
            r = _parse_row(int(seqs[i]), vals[i])
            # r = (seq, line, kind, ts, queue_id, fields, to_list,
            #      status_desc, subject, dmsgid, daction, fault, admitted)
            if r[12]:
                folder_of(r[4]).feed(
                    r[0], r[1], r[2], r[3], r[5], r[6], r[7], r[8], r[11]
                )
            elif r[2] == "fault":
                # pre-fold fault (never entered state): same row shape the
                # folders emit, so one union-free output stream
                out.append(_fault_tuple(r[4], None, r[11], r[1], r[0]))
        if len(out) >= 10_000:
            yield pd.DataFrame(out, columns=_FOLD_COLUMNS)
            out.clear()
            for f in live.values():
                f.out = out
    for f in live.values():
        f.close()
    if out:
        yield pd.DataFrame(out, columns=_FOLD_COLUMNS)


_ENTRY_ARRAY_T = "array<struct<eseq:bigint,key:string,value:string>>"

_FOLD_ROW_T = (
    "struct<record_type:string,start_seq:bigint,timestamp:timestamp,"
    "fields:map<string,string>,to_list:array<string>,raw_log:array<string>,"
    "removed_seq:bigint,msgid_intervals:array<struct<msgid:string,lo:bigint,"
    "hi:bigint>>,kv_dovecot_seq:bigint,fault_reason:string,fault_line:string,"
    "fault_seq:bigint,dovecot_final:string>"
)

# accumulator for the per-queue linear fold: required-key presence flags
# since the last successful boundary, successful-removed seqs, failed
# removals (Q4) with the first missing key.
_ACC_INIT = (
    "named_struct("
    "'f', false, 't', false, 'm', false, 's', false, 'd', false,"
    "'bnd', cast(array() as array<bigint>),"
    "'fails', cast(array() as array<struct<seq:bigint,missing:string>>))"
)


def _last_wins_fields(entries: Column) -> Column:
    """Fold (eseq, key, value) entries — already in seq order — into a
    last-wins map.  Duplicate keys are removed BEFORE map_from_entries
    (keep-last, quirk Q1), so the result is independent of the session's
    ``spark.sql.mapKeyDedupPolicy`` — a caller on the default EXCEPTION
    policy would otherwise hit DUPLICATED_MAP_KEY at execution."""
    from postfix_log_parser_spark.operators.parse import _dedup_last_wins

    return F.map_from_entries(
        F.transform(
            _dedup_last_wins(entries, "key"),
            lambda e: F.struct(e["key"], e["value"]),
        )
    )


def _empty_str_array() -> Column:
    return F.array().cast("array<string>")


def _boundary_fold(xs: Column) -> Column:
    """Linear fold over a queue's sorted lines, reproducing ``feed_line``'s
    finalization semantics exactly (``lognormalizer/parse.py:341-355`` +
    ``PostfixEvent`` required keys ``parse.py:143-150``):

    a ``removed`` marker closes the session ONLY if every required field
    has been set since the previous successful boundary; otherwise the
    reference raises KeyError → fault and the session stays open (Q4).
    Returns ``struct(bnd: array<seq of successful removed>, fails:
    array<(seq, first-missing-key)>)``."""

    def has_key(x: Column, k: str) -> Column:
        return F.exists(x["entries"], lambda e: e["key"] == k)

    def step(acc: Column, x: Column) -> Column:
        is_removed = x["kind"] == F.lit("removed")
        ok = acc["f"] & acc["t"] & acc["m"] & acc["s"] & acc["d"]
        # first missing key in the reference's required-key order
        missing = (
            F.when(~acc["f"], F.lit("from"))
            .when(~acc["t"], F.lit("to"))
            .when(~acc["m"], F.lit("message-id"))
            .when(~acc["s"], F.lit("status"))
            .otherwise(F.lit("status_description"))
        )
        reset_flags = [
            F.lit(False).alias(n) for n in ("f", "t", "m", "s", "d")
        ]
        closed = F.struct(
            *reset_flags,
            F.concat(acc["bnd"], F.array(x["seq"])).alias("bnd"),
            acc["fails"].alias("fails"),
        )
        failed = F.struct(
            acc["f"].alias("f"),
            acc["t"].alias("t"),
            acc["m"].alias("m"),
            acc["s"].alias("s"),
            acc["d"].alias("d"),
            acc["bnd"].alias("bnd"),
            F.concat(
                acc["fails"],
                F.array(F.struct(x["seq"].alias("seq"), missing.alias("missing"))),
            ).alias("fails"),
        )
        folded_line = F.struct(
            (acc["f"] | has_key(x, "from")).alias("f"),
            (
                acc["t"]
                | (F.size(F.coalesce(x["to_list"], _empty_str_array())) > 0)
            ).alias("t"),
            (acc["m"] | has_key(x, "message-id")).alias("m"),
            (acc["s"] | has_key(x, "status")).alias("s"),
            (acc["d"] | has_key(x, "status_description")).alias("d"),
            acc["bnd"].alias("bnd"),
            acc["fails"].alias("fails"),
        )
        return (
            F.when(is_removed & ok, closed)
            .when(is_removed, failed)
            .otherwise(folded_line)
        )

    return F.aggregate(xs, F.expr(_ACC_INIT), step)


def _session_row(s: Column, k: Column, bnd: Column) -> Column:
    """FOLD-row struct for one session (array expression; ``s`` is the
    session's sorted line structs, ``k`` its index, ``bnd`` the successful
    boundary seqs — session k is closed iff k < size(bnd))."""
    removed_seq = F.get(bnd, k)  # null for the trailing open session
    entries_flat = F.flatten(F.transform(s, lambda x: x["entries"]))
    fields = _last_wins_fields(entries_flat)
    to_list = F.flatten(
        F.transform(s, lambda x: F.coalesce(x["to_list"], _empty_str_array()))
    )
    assigns = F.filter(entries_flat, lambda e: e["key"] == "message-id")
    n_assign = F.size(assigns)
    intervals = F.when(
        n_assign > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_assign - F.lit(1), F.lit(0))),
            lambda i: F.struct(
                F.get(assigns, i)["value"].alias("msgid"),
                F.get(assigns, i)["eseq"].alias("lo"),
                F.coalesce(F.get(assigns, i + F.lit(1))["eseq"], removed_seq).alias(
                    "hi"
                ),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<msgid:string,lo:bigint,hi:bigint>>")
    )
    kv_dovecot_seq = F.try_element_at(
        F.filter(entries_flat, lambda e: e["key"] == "dovecot_fileinto_action"),
        F.lit(-1),
    )["eseq"]
    return F.struct(
        F.when(k < F.size(bnd), F.lit("event"))
        .otherwise(F.lit("state"))
        .alias("record_type"),
        F.get(s, 0)["seq"].alias("start_seq"),
        F.get(s, 0)["timestamp"].alias("timestamp"),
        fields.alias("fields"),
        to_list.alias("to_list"),
        F.transform(s, lambda x: x["line"]).alias("raw_log"),
        removed_seq.alias("removed_seq"),
        intervals.alias("msgid_intervals"),
        kv_dovecot_seq.alias("kv_dovecot_seq"),
        F.lit(None).cast("string").alias("fault_reason"),
        F.lit(None).cast("string").alias("fault_line"),
        F.lit(None).cast("long").alias("fault_seq"),
        F.lit(None).cast("string").alias("dovecot_final"),
    )


def _fault_row(reason: Column, line: Column, seq: Column) -> Column:
    return F.struct(
        F.lit("fault").alias("record_type"),
        F.lit(None).cast("long").alias("start_seq"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        F.lit(None).cast("map<string,string>").alias("fields"),
        F.lit(None).cast("array<string>").alias("to_list"),
        F.lit(None).cast("array<string>").alias("raw_log"),
        F.lit(None).cast("long").alias("removed_seq"),
        F.lit(None)
        .cast("array<struct<msgid:string,lo:bigint,hi:bigint>>")
        .alias("msgid_intervals"),
        F.lit(None).cast("long").alias("kv_dovecot_seq"),
        reason.alias("fault_reason"),
        line.alias("fault_line"),
        seq.alias("fault_seq"),
        F.lit(None).cast("string").alias("dovecot_final"),
    )


def _fold_native(feed: DataFrame) -> DataFrame:
    """Catalyst-only fold: parsed lines → per-session FOLD rows.

    ONE hash shuffle (``groupBy(queue_id)``) and ONE explode; everything
    else is array expressions over the per-queue sorted line list:

    1. ``_boundary_fold`` — linear accumulator fold finds the seqs of
       *successful* ``removed`` markers (reference Q4: a removed whose
       session misses a required key faults and leaves the session open)
       and the failed removals with their KeyError key.
    2. Split lines into sessions on those boundaries (a removed closes
       the session it belongs to), build one FOLD-row struct per session,
       plus fault rows for failed removals and admitted line-faults
       (subject/MIME IndexError parity, Q8/Q12).
    3. ``explode`` the combined row array.

    Per-queue_id data is bounded (a mail session is 5-20 lines) and the
    key is uniform uppercase hex — no skew handling needed.  This is the
    exact semantic twin of ``_fold_group`` (the pandas oracle, kept for
    differential tests via ``use_native=False``).
    """
    desc_entry = F.array(
        F.struct(
            F.col("seq").alias("eseq"),
            F.lit("status_description").alias("key"),
            F.col("status_description").alias("value"),
        )
    )
    subject_entry = F.array(
        F.struct(
            F.col("seq").alias("eseq"),
            F.lit("subject").alias("key"),
            F.col("subject").alias("value"),
        )
    )
    kv_entries = F.transform(
        F.map_entries(F.col("fields")),
        lambda e: F.struct(
            F.col("seq").alias("eseq"), e["key"].alias("key"), e["value"].alias("value")
        ),
    )
    empty = F.array().cast(_ENTRY_ARRAY_T)
    line_entries = F.concat(
        F.when(F.col("fields").isNotNull(), kv_entries).otherwise(empty),
        F.when(F.col("status_description").isNotNull(), desc_entry).otherwise(empty),
        F.when(
            (F.col("kind") == "subject") & F.col("fault_reason").isNull(),
            subject_entry,
        ).otherwise(empty),
    )

    lines = feed.select(
        "queue_id",
        F.struct(
            F.col("seq"),
            F.col("line"),
            F.col("timestamp"),
            F.col("kind"),
            line_entries.alias("entries"),
            F.col("to_list"),
            F.col("fault_reason"),
        ).alias("x"),
    )
    g = lines.groupBy("queue_id").agg(
        F.sort_array(F.collect_list("x")).alias("xs")
    )

    xs = F.col("xs")
    fold = _boundary_fold(xs)
    g = g.withColumn("bnd", fold["bnd"]).withColumn("fails", fold["fails"])
    bnd = F.col("bnd")

    # session index of a line = number of successful boundaries before it;
    # a successful removed closes its own session, a failed one does not
    # split (Q4).
    sessions = F.transform(
        F.sequence(F.lit(0), F.size(bnd)),
        lambda k: F.filter(
            xs, lambda x: F.size(F.filter(bnd, lambda b: b < x["seq"])) == k
        ),
    )
    session_rows = F.filter(
        F.transform(
            sessions,
            lambda s, k: F.when(F.size(s) > 0, _session_row(s, k, bnd)),
        ),
        lambda r: r.isNotNull(),
    )
    fail_rows = F.transform(
        F.col("fails"),
        lambda f: _fault_row(
            F.concat(F.lit("KeyError: '"), f["missing"], F.lit("'")),
            F.get(F.filter(xs, lambda x: x["seq"] == f["seq"]), 0)["line"],
            f["seq"],
        ),
    )
    line_fault_rows = F.transform(
        F.filter(xs, lambda x: x["fault_reason"].isNotNull()),
        lambda x: _fault_row(x["fault_reason"], x["line"], x["seq"]),
    )
    all_rows = F.concat(session_rows, fail_rows, line_fault_rows)

    r = F.col("r")
    return g.select("queue_id", F.explode(all_rows).alias("r")).select(
        r["record_type"].alias("record_type"),
        "queue_id",
        r["start_seq"].alias("start_seq"),
        r["timestamp"].alias("timestamp"),
        r["fields"].alias("fields"),
        r["to_list"].alias("to_list"),
        r["raw_log"].alias("raw_log"),
        r["removed_seq"].alias("removed_seq"),
        r["msgid_intervals"].alias("msgid_intervals"),
        r["kv_dovecot_seq"].alias("kv_dovecot_seq"),
        r["fault_reason"].alias("fault_reason"),
        r["fault_line"].alias("fault_line"),
        r["fault_seq"].alias("fault_seq"),
        r["dovecot_final"].alias("dovecot_final"),
    )


def _project_events(folded: DataFrame) -> DataFrame:
    """P4/P5/P6/P11/P12 — native event projection from folded session state
    (``PostfixEvent.__init__``, ``parse.py:136-168``)."""
    f = lambda k: F.try_element_at(F.col("fields"), F.lit(k))  # noqa: E731
    message_from = angle_trim(f("from"))
    message_to = F.transform(F.col("to_list"), angle_trim)
    pair = status_code_pair(f("status_description"))
    return folded.select(
        F.col("timestamp"),
        F.col("queue_id"),
        domain_of(message_from).alias("domain_from"),
        ordered_distinct(F.transform(message_to, domain_of)).alias("domains_to"),
        message_from.alias("message_from"),
        message_to.alias("message_to"),
        angle_trim(f("message-id")).alias("message_id"),
        f("subject").alias("message_subject"),
        f("status").alias("status"),
        pair["status_code"].alias("status_code"),
        pair["status_postfix_code"].alias("status_postfix_code"),
        f("status_description").alias("status_description"),
        f("client").alias("client"),
        f("orig_to").alias("orig_to"),
        F.col("_dovecot_final").alias("dovecot_fileinto_action"),
        f("delay").alias("delay"),
        f("delays").alias("delays"),
        f("dsn").alias("dsn"),
        f("nrcpt").alias("nrcpt"),
        f("relay").alias("relay"),
        f("size").alias("size"),
        F.col("raw_log"),
        F.col("start_seq").alias("_start_seq"),
        F.col("removed_seq").alias("_removed_seq"),
    )


def sessionize(
    parsed: DataFrame,
    keep_order_columns: bool = False,
    use_native: bool | None = None,
    fold: str = "partitioned",
    raw_lines: DataFrame | None = None,
    max_broadcast_dovecot: int = 500_000,
    materialize_fold: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Sessionize a parsed-line DataFrame.

    Returns ``(events, faults, state)``:

    * ``events`` — the 22-column `EVENTS_SCHEMA` DataFrame, one row per
      completed session (quirk Q5: rows may carry NULL status codes; the
      sink projection routes those to faults — see ``sinks.route_sink_faults``).
    * ``faults`` — (line, fault_reason, queue_id): every line the reference
      would route to ``on_fault`` (quirk Q12).
    * ``state`` — residual open sessions (the reference's ``parser.state``)
      for introspection / streaming hand-off.

    Set ``keep_order_columns=True`` to retain ``_start_seq``/``_removed_seq``
    on events (deterministic ordering for tests).

    ``max_broadcast_dovecot`` guards the J1 broadcast: up to that many
    sieve lines ride a single sorted broadcast array (the fast path —
    sieve lines are a small fraction of real logs); above it, sessionize
    switches to the interval equi-join fallback, which shuffles instead
    of broadcasting and never materializes the dim in one task.

    ``materialize_fold=True`` runs the fold eagerly inside this call and
    keeps its rows as a local checkpoint; events, faults and state are
    then narrow reads of that checkpoint, so a caller that consumes all
    three (the batch CLI, staged fixtures) pays for one parse and one
    fold instead of one per output.  Leave it off when only one output
    is consumed: the lazy plan then fuses with its sink.

    Pre-fold faults (Q8: short dovecot-shaped lines, never admitted to
    state) ride the default ``partitioned`` fold's feed and come out of
    it as fault rows, so ``faults`` reads the fold like the other two
    outputs.  The ``catalyst`` and ``pandas`` oracle folds take admitted
    lines only and union the pre-faults from a second pass over
    ``parsed``.
    """
    if use_native is not None:  # back-compat switch used by the test oracle
        fold = "catalyst" if use_native else "pandas"

    # faults raised before any state effect (dovecot-shape IndexError)
    is_pre_fault = (F.col("kind") == "fault") & ~F.col("admitted")
    if fold == "partitioned":
        feed = parsed.filter(F.col("admitted") | is_pre_fault)
        pre_faults = None
    else:
        feed = parsed.filter(F.col("admitted"))
        pre_faults = parsed.filter(is_pre_fault).select(
            "line", "fault_reason", "queue_id"
        )
    feed = feed.select(
        "seq",
        "line",
        "kind",
        "timestamp",
        "queue_id",
        "fields",
        "to_list",
        "status_description",
        "subject",
        "fault_reason",
        "admitted",
    )

    # ---- J1 dim, probed BEFORE the fold: the default fold resolves the
    # correlation in-fold from a broadcast hash map (see
    # ``_fold_partitioned``).  Dovecot lines are filtered on dovecot_msgid
    # (≡ kind='dovecot' but prunes to a scan + token-shape predicates only
    # — no timestamp/queue-id regex work).  With raw_lines provided (the
    # Arrow-parse fast path), the dim comes from a cheap substring scan of
    # the raw text instead — the Arrow parse is opaque to Catalyst, so
    # filtering `parsed` would re-run it.
    if raw_lines is not None:
        from postfix_log_parser_spark.operators.parse import dovecot_dim_from_raw

        dov_src = dovecot_dim_from_raw(raw_lines)
    else:
        dov_src = parsed.filter(F.col("dovecot_msgid").isNotNull())
    dov_src = dov_src.select(
        F.col("seq").alias("dseq"),
        F.col("dovecot_msgid").alias("dmsgid"),
        F.col("dovecot_action").alias("daction"),
    )
    # ONE bounded probe job sizes the dim AND (fast path) fetches it:
    # limit(max+1).collect() either returns the whole dim (<= max rows,
    # which the fast path needs driver-side anyway to build the broadcast)
    # or proves it oversized.  No persist — nothing cached to leak; the
    # rare dovecot-heavy fallback re-scans the dim inside its equi-join
    # (the probe itself stopped after max+1 rows, so at most one full
    # dim scan ever runs).
    dov_rows = dov_src.limit(max_broadcast_dovecot + 1).collect()
    n_dov = len(dov_rows)

    # executor-local hash map {msgid: (sorted dseqs, actions)} for the
    # in-fold resolution — only the default fold takes it; the catalyst /
    # pandas oracle folds keep the Catalyst correlation stage below
    fold_dov_bc = None
    if fold == "partitioned" and n_dov <= max_broadcast_dovecot:
        dov_map: dict[str, tuple[list, list]] = {}
        for r in sorted(dov_rows, key=lambda r: r["dseq"]):
            ent = dov_map.setdefault(r["dmsgid"], ([], []))
            ent[0].append(r["dseq"])
            ent[1].append(r["daction"])
        fold_dov_bc = parsed.sparkSession.sparkContext.broadcast(dov_map)

    if fold == "partitioned":
        folded = _fold_partitioned(feed, fold_dov_bc)
    elif fold == "catalyst":
        folded = _fold_native(feed)
    elif fold == "pandas":
        folded = feed.groupBy("queue_id").applyInPandas(_fold_group, FOLD_SCHEMA)
    else:  # pragma: no cover - guard
        raise ValueError(f"unknown fold strategy: {fold}")

    if materialize_fold:
        # callers that materialize all three outputs (eager checkpoints,
        # multi-output sinks) otherwise execute the fold once PER OUTPUT
        # — events, faults and state are all derived from ``folded``, so
        # one eager checkpoint here turns the triple into narrow reads
        # of the same materialized fold (r13; the fixture pipeline paid
        # 3 full parse+fold executions per fill)
        folded = folded.localCheckpoint(eager=True)

    # ---- J1: dovecot sieve correlation — applied to the folded sessions
    # (unless the fold already resolved it in-fold, the default path).
    # All strategies replace the reference's O(open-sessions) linear scan
    # per dovecot line (parse.py:373-375).
    sessions = folded.filter(F.col("record_type") != "fault")
    kv_fallback = F.try_element_at(
        F.col("fields"), F.lit("dovecot_fileinto_action")
    )
    # the later setter wins: a k=v dovecot_fileinto_action=... token vs
    # the dovecot handler (both plain dict assignments in the reference)
    def _final(best_seq: Column, best_action: Column) -> Column:
        return F.when(
            best_seq.isNotNull()
            & (
                F.col("kv_dovecot_seq").isNull()
                | (best_seq > F.col("kv_dovecot_seq"))
            ),
            best_action,
        ).otherwise(kv_fallback)

    if fold_dov_bc is not None:
        # in-fold resolution already happened inside _fold_partitioned:
        # the fold rows carry the final action — no Catalyst correlation
        # stage at all (and no per-session scan of the sieve dim, which
        # is interpreted and O(sessions x sieve-lines))
        sessions = sessions.withColumn("_dovecot_final", F.col("dovecot_final"))
    elif n_dov == 0:
        # no sieve lines at all (the common real-log case): the later-
        # setter rule degenerates to the k=v fallback — no join, no
        # broadcast, the sessions plan is untouched.
        sessions = sessions.withColumn("_dovecot_final", kv_fallback)
    elif n_dov <= max_broadcast_dovecot:
        # fast path: the whole dim (already on the driver from the probe)
        # rides ONE sorted broadcast array and is matched per session
        # with an array expression over the msgid validity intervals —
        # the folded sessions are consumed exactly once (no explode +
        # join-back, which would re-execute the fold aggregate).
        dovs = parsed.sparkSession.createDataFrame(
            [
                (
                    sorted(
                        ((r["dseq"], r["dmsgid"], r["daction"]) for r in dov_rows),
                        key=lambda t: t[0],  # dseq is globally unique
                    ),
                )
            ],
            "_dovs array<struct<dseq:long,dmsgid:string,daction:string>>",
        )
        sessions = sessions.crossJoin(F.broadcast(dovs))
        ivs = F.col("msgid_intervals")
        best = F.try_element_at(
            F.filter(
                F.col("_dovs"),
                lambda d: F.exists(
                    ivs,
                    lambda iv: (iv["msgid"] == d["dmsgid"])
                    & (d["dseq"] > iv["lo"])
                    & (iv["hi"].isNull() | (d["dseq"] < iv["hi"])),
                ),
            ),
            F.lit(-1),
        )
        sessions = sessions.withColumn(
            "_dovecot_final", _final(best["dseq"], best["daction"])
        ).drop("_dovs")
    else:
        # dovecot-heavy fallback: shuffle interval equi-join on msgid.
        # Explode each session's msgid validity intervals (bounded: one
        # per message-id assignment), equi-join the dim on msgid with the
        # (lo, hi) range predicate, keep the LAST matching sieve line per
        # session, and join back on the (queue_id, start_seq) session key.
        # The join-back consumes the fold aggregate a second time — the
        # price of never materializing the dim in one task.
        iv = sessions.select(
            "queue_id",
            "start_seq",
            F.explode("msgid_intervals").alias("_iv"),
        )
        cand = iv.join(dov_src, iv["_iv"]["msgid"] == dov_src["dmsgid"]).filter(
            (F.col("dseq") > F.col("_iv")["lo"])
            & (F.col("_iv")["hi"].isNull() | (F.col("dseq") < F.col("_iv")["hi"]))
        )
        best_per_session = cand.groupBy("queue_id", "start_seq").agg(
            F.max("dseq").alias("_best_dseq"),
            F.max_by("daction", "dseq").alias("_best_daction"),
        )
        sessions = sessions.join(
            best_per_session, ["queue_id", "start_seq"], "left"
        ).withColumn(
            "_dovecot_final", _final(F.col("_best_dseq"), F.col("_best_daction"))
        ).drop("_best_dseq", "_best_daction")

    events, faults, state = _split_outputs(folded, sessions, keep_order_columns)
    if pre_faults is not None:
        faults = pre_faults.unionByName(faults)
    return events, faults, state


def _split_outputs(
    folded: DataFrame, sessions: DataFrame, keep_order_columns: bool
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(events, faults, state) from the fold rows: ``sessions`` is the
    fold's non-fault rows carrying the resolved ``_dovecot_final``."""
    events = _project_events(sessions.filter(F.col("record_type") == "event"))
    if not keep_order_columns:
        events = events.select(*EVENT_COLUMNS)
    faults = folded.filter(F.col("record_type") == "fault").select(
        F.col("fault_line").alias("line"),
        F.col("fault_reason"),
        F.col("queue_id"),
    )
    state = sessions.filter(F.col("record_type") == "state").select(
        "queue_id",
        "timestamp",
        "fields",
        "to_list",
        "raw_log",
        F.col("_dovecot_final").alias("dovecot_fileinto_action"),
    )
    return events, faults, state


def sessionize_raw(
    raw_lines: DataFrame,
    line_col: str = "value",
    keep_order_columns: bool = False,
    max_broadcast_dovecot: int = 500_000,
    materialize_fold: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fused parse+sessionize engine — the throughput path.

    ``sessionize(parse_lines_arrow(raw), raw_lines=raw)`` runs parse and
    fold as two Python stages with a shuffle of the PARSED payload (maps,
    arrays, strings) between them: every admitted line's fields map is
    Arrow-serialized out of the parse worker, shuffled, and deserialized
    into the fold worker.  This fused engine instead shuffles the RAW
    line keyed by a Catalyst-extracted queue-id candidate, and one Python
    stage parses and folds in place (``_fused_batches``) — parse output
    never crosses a serialization boundary, and the dovecot correlation
    resolves in-fold from the broadcast msgid map.

    The co-location key mirrors the parser's admission exactly: token 3
    of the Python-whitespace tokenization when it matches the Q10 queue-id
    shape (``lognormalizer/parse.py:237-256``); every admitted line of a
    queue therefore lands in that queue's partition.  Non-admitted lines
    spread over synthetic keys (they only ever emit stateless pre-fold
    faults).  Scale shape: ONE shuffle of (key, seq, line) — strictly
    less shuffle volume than the unfused path — then a linear in-memory
    pass; uniform hex keys, no skew.

    Falls back to the unfused path when the sieve dim exceeds the
    broadcast bound.  Differentially tested against the unfused engine on
    every golden fixture (``tests/test_fused.py``).  ``materialize_fold``
    is ``sessionize``'s: one eager fold, three narrow reads of it.
    """
    from postfix_log_parser_spark.operators.parse import (
        _QUEUE_ID_RE,
        _WS,
        dovecot_dim_from_raw,
        with_seq,
    )

    spark = raw_lines.sparkSession
    dov_src = dovecot_dim_from_raw(raw_lines, line_col).select(
        F.col("seq").alias("dseq"),
        F.col("dovecot_msgid").alias("dmsgid"),
        F.col("dovecot_action").alias("daction"),
    )
    dov_rows = dov_src.limit(max_broadcast_dovecot + 1).collect()
    if len(dov_rows) > max_broadcast_dovecot:
        # dovecot-heavy log: delegate to the unfused engine's interval
        # equi-join fallback rather than holding an oversized dict
        from postfix_log_parser_spark.operators.parse import parse_lines_arrow

        return sessionize(
            parse_lines_arrow(raw_lines, line_col),
            keep_order_columns=keep_order_columns,
            raw_lines=raw_lines,
            max_broadcast_dovecot=max_broadcast_dovecot,
            materialize_fold=materialize_fold,
        )

    dov_map: dict[str, tuple[list, list]] = {}
    for r in sorted(dov_rows, key=lambda r: r["dseq"]):
        ent = dov_map.setdefault(r["dmsgid"], ([], []))
        ent[0].append(r["dseq"])
        ent[1].append(r["daction"])
    dov_bc = spark.sparkContext.broadcast(dov_map)

    df = with_seq(raw_lines, line_col)
    if line_col != "value":
        df = df.withColumnRenamed(line_col, "value")
    # token 3 of the Python-whitespace tokenization iff it has the Q10
    # shape (trim+split+index measures ~3x faster than one anchored
    # regex here: the big Unicode class makes per-line regex scans slow)
    trimmed = F.regexp_replace(F.col("value"), f"^{_WS}+|{_WS}+$", "")
    tok3 = F.get(F.split(trimmed, f"{_WS}+"), 3)
    t3 = F.when(tok3.rlike(_QUEUE_ID_RE), F.substring(tok3, 1, 11)).otherwise(
        F.lit("")
    )
    key = F.when(t3 != "", t3).otherwise(
        # non-queue lines can fold nowhere; spread them over synthetic
        # keys ("\0" can't collide with an upper-hex queue id)
        F.concat(F.lit("\x00"), F.pmod(F.col("seq"), F.lit(64)).cast("string"))
    )
    arranged = (
        df.select(key.alias("_k"), "seq", "value")
        .repartition(F.col("_k"))
        .sortWithinPartitions("_k", "seq")
    )
    folded = arranged.mapInPandas(
        lambda batches: _fused_batches(batches, dov_bc.value), FOLD_SCHEMA
    )
    if materialize_fold:
        folded = folded.localCheckpoint(eager=True)

    sessions = folded.filter(F.col("record_type") != "fault").withColumn(
        "_dovecot_final", F.col("dovecot_final")
    )
    return _split_outputs(folded, sessions, keep_order_columns)
