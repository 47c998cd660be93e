"""CLI runner tests (EP1 twin: file -> events table)."""

import os

import pytest

from postfix_log_parser_spark.__main__ import main

LOG = """\
2024-04-09T20:22:42.548478+03:00 localhost postfix/smtpd[1]: 85C6C10208A: client=mail.localhost[192.168.0.1]
2024-04-09T20:22:42.596265+03:00 localhost postfix/cleanup[2]: 85C6C10208A: message-id=<m@1>
2024-04-09T20:22:42.736487+03:00 localhost postfix/qmgr[3]: 85C6C10208A: from=<user@localhost>, size=952, nrcpt=1 (queue active)
2024-04-09T20:22:43.039303+03:00 localhost postfix/lmtp[4]: 85C6C10208A: to=<user@localhost>, relay=x, dsn=2.0.0, status=sent (250 2.0.0 ok Saved)
2024-04-09T20:22:43.039628+03:00 localhost postfix/qmgr[3]: 85C6C10208A: removed
2024-04-09T20:22:44.000001+03:00 localhost postfix/qmgr[3]: BBBBBBBBBBB: from=<open@session.com>
"""


def test_cli_stream_once(spark, tmp_path):
    from postfix_log_parser_spark.schema import EVENTS_SCHEMA

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    (in_dir / "mail.log").write_text(LOG)
    out = tmp_path / "sout"
    rc = main(
        [
            "--stream",
            str(in_dir),
            "--out",
            str(out),
            "--checkpoint",
            str(tmp_path / "ck"),
            "--once",
        ]
    )
    assert rc == 0
    events = spark.read.schema(EVENTS_SCHEMA).parquet(str(out / "events"))
    rows = events.collect()
    assert [r["queue_id"] for r in rows] == ["85C6C10208A"]
    assert rows[0]["status_code"] == 250
    # the on_fault channel is persisted too (fold faults + pre-faults);
    # this LOG has none, but the faults table must exist with the
    # fault-channel schema
    faults = spark.read.schema(
        "line string, fault_reason string, queue_id string"
    ).parquet(str(out / "faults"))
    assert faults.count() == 0


# a Q4 fold fault (removed with no fields -> KeyError) and a Q8 pre-fault
# (short dovecot-shaped Info: line -> IndexError)
BAD_LOG = LOG + (
    "2024-04-09T20:22:45.000001+03:00 localhost postfix/qmgr[3]: "
    "CCCCCCCCCCC: removed\n"
    "2024-04-09T20:22:45.100000+03:00 lmtp(x)<1><2> host x Info:\n"
)


def test_cli_stream_once_writes_faults(spark, tmp_path):
    bad = BAD_LOG
    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    (in_dir / "mail.log").write_text(bad)
    out = tmp_path / "sout"
    rc = main(
        [
            "--stream",
            str(in_dir),
            "--out",
            str(out),
            "--checkpoint",
            str(tmp_path / "ck"),
            "--once",
        ]
    )
    assert rc == 0
    faults = spark.read.schema(
        "line string, fault_reason string, queue_id string"
    ).parquet(str(out / "faults"))
    reasons = sorted(r["fault_reason"] for r in faults.collect())
    # CCCCCCCCCCC: removed with no fields -> Q4 KeyError (fold fault);
    # the short Info: line -> Q8 IndexError (stateless pre-fault)
    assert any(r.startswith("KeyError") for r in reasons)
    assert any(r.startswith("IndexError") for r in reasons)


def test_cli_batch_out(spark, tmp_path):
    log = tmp_path / "mail.log"
    log.write_text(LOG)
    out = tmp_path / "out"
    assert main([str(log), "--out", str(out)]) == 0
    events = spark.read.parquet(str(out / "events"))
    assert events.count() == 1
    row = events.collect()[0]
    assert row["queue_id"] == "85C6C10208A"
    assert row["status_code"] == 250
    # date-partitioned layout (sinks.write_events)
    assert any(d.startswith("event_date=") for d in os.listdir(out / "events"))
    state = spark.read.parquet(str(out / "state"))
    assert [r["queue_id"] for r in state.collect()] == ["BBBBBBBBBBB"]


def test_cli_batch_out_fused_engine(spark, tmp_path):
    log = tmp_path / "mail.log"
    log.write_text(LOG)
    out = tmp_path / "out_fused"
    assert main([str(log), "--out", str(out), "--engine", "fused"]) == 0
    events = spark.read.parquet(str(out / "events"))
    assert events.count() == 1
    row = events.collect()[0]
    assert row["queue_id"] == "85C6C10208A"
    assert row["status_code"] == 250
    state = spark.read.parquet(str(out / "state"))
    assert [r["queue_id"] for r in state.collect()] == ["BBBBBBBBBBB"]


@pytest.mark.parametrize("engine", ["arrow", "fused", "catalyst"])
def test_cli_batch_out_writes_faults(spark, tmp_path, capsys, engine):
    """Batch twin of ``test_cli_stream_once_writes_faults``: both fault
    kinds reach ``out/faults`` whichever engine folds, and the summary
    line counts what was written."""
    log = tmp_path / "mail.log"
    log.write_text(BAD_LOG)
    out = tmp_path / "out"
    assert main([str(log), "--out", str(out), "--engine", engine]) == 0
    faults = spark.read.parquet(str(out / "faults")).collect()
    by_reason = {r["fault_reason"]: r for r in faults}
    assert sorted(by_reason) == [
        "IndexError: dovecot-shaped line too short",
        "KeyError: 'from'",
    ]
    assert by_reason["KeyError: 'from'"]["queue_id"] == "CCCCCCCCCCC"
    assert by_reason["IndexError: dovecot-shaped line too short"]["line"].endswith(
        "host x Info:"
    )
    events = spark.read.parquet(str(out / "events"))
    assert [r["queue_id"] for r in events.collect()] == ["85C6C10208A"]
    state = spark.read.parquet(str(out / "state"))
    assert sorted(r["queue_id"] for r in state.collect()) == [
        "BBBBBBBBBBB",
        "CCCCCCCCCCC",
    ]
    assert f"events=1 faults=2 -> {out}" in capsys.readouterr().err.splitlines()
