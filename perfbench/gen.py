"""Seeded mail-log generator with ground truth.

Produces postfix/dovecot syslog lines in the FIXTURES.md §1 mix and, from
the same random draws, the outputs the sessionizer must produce for them:
event / fault / residual-state counts and an order-independent content
hash over ``(queue_id, status, status_code, message_id, sorted
domains_to)`` of every event.

Line mix (share of all lines, FIXTURES.md §1):

* session lines — client, message-id, from/qmgr, one delivery line per
  recipient (1-3 recipients, 1.5 on average), removed;
* per session, with probability 0.3 each: a UTF-8 MIME subject, an ASCII
  subject and a dovecot sieve ``fileinto`` line (legacy syslog time, no
  queue id) — about 3% of lines each;
* noise (connect/disconnect, anvil, NOQUEUE rejects, lowercase queue ids,
  cron lines) — 36% of lines, all dropped by the parser;
* 5% of sessions are abandoned (no ``removed``) and 2% fault (no
  ``message-id`` line, so ``removed`` raises ``KeyError``); both stay in
  the residual state.

``depth`` sessions are open at once; each output line belongs to a random
open session or is noise.  Timestamps never decrease: every line advances
a global clock by ``step_s`` seconds, so ``days`` of traffic take
``days * 86400 / step_s`` lines.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import random
from dataclasses import dataclass, field

NOISE_SHARE = 0.36
ABANDON_P = 0.05
FAULT_P = 0.02
EXTRA_P = 0.3  # utf-8 subject, ascii subject, dovecot line: each per session
TZ = datetime.timezone(datetime.timedelta(hours=3))
START = datetime.datetime(2024, 4, 9, 0, 0, 0, tzinfo=TZ)

_SENDER_DOMAINS = [f"sender{i}.example.com" for i in range(40)]
_RCPT_DOMAINS = [f"dest{i}.example.org" for i in range(25)]
_RELAYS = [
    "mail.localhost[private/dovecot-lmtp]",
    "mx1.dest.example.org[192.0.2.10]:25",
    "mx2.dest.example.org[192.0.2.11]:25",
    "relay.example.net[198.51.100.7]:587",
]
_WORDS = "quarterly report invoice meeting notes build failed deploy status lunch".split()
_UTF8_SUBJECTS = ["Привет мир", "Grüße aus Köln", "日本語の件名", "Ünïcödé test", "Счёт №42"]
# (status, dsn, code) — the description ends with this pair (last wins)
_OUTCOMES = [
    ("sent", "2.0.0", 250),
    ("sent", "2.0.0", 250),
    ("sent", "2.6.0", 250),
    ("deferred", "4.2.0", 450),
    ("deferred", "4.7.1", 451),
    ("bounced", "5.1.1", 550),
]


def event_digest(queue_id: str, status: str, status_code: int | None,
                 message_id: str, domains_to) -> int:
    """64-bit digest of one event's checked fields (domains sorted)."""
    key = "|".join(
        [queue_id, status, str(status_code), message_id, ",".join(sorted(domains_to))]
    )
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "big")


def content_hash(digests) -> str:
    """Order-independent hash: the sum of the per-event digests mod 2**64."""
    return f"{sum(digests) % (1 << 64):016x}"


@dataclass
class Truth:
    events: int = 0
    faults: int = 0
    state: int = 0
    digests: list = field(default_factory=list)

    @property
    def content_hash(self) -> str:
        return content_hash(self.digests)

    def as_dict(self) -> dict:
        return {
            "events": self.events,
            "faults": self.faults,
            "state": self.state,
            "content_hash": self.content_hash,
        }


@dataclass
class MailLog:
    lines: list
    truth: Truth
    sessions: int
    depth: int
    days: float


def _iso(t: datetime.datetime) -> str:
    return t.isoformat(timespec="microseconds")


def _syslog(t: datetime.datetime) -> str:
    return f"{t:%b} {t.day:2d} {t:%H:%M:%S}"


def _session(rng: random.Random, qid: str, serial: int) -> tuple[list, str, dict | None]:
    """One session's line templates (``{ts}`` filled at emission), its fate
    (``event``, ``abandoned`` or ``fault``) and its expected event, or
    ``None`` when it does not complete."""
    pid = rng.randrange(1000, 60000)
    cpid = rng.randrange(1000, 60000)
    sd = rng.choice(_SENDER_DOMAINS)
    sender = f"user{rng.randrange(500)}@{sd}"
    ip = f"203.0.113.{rng.randrange(1, 255)}"
    client_host = f"client{rng.randrange(300)}.example.net"
    mid = f"{serial:x}.{rng.getrandbits(32):08x}@{sd}"
    fate = rng.random()
    abandoned = fate < ABANDON_P
    faulting = ABANDON_P <= fate < ABANDON_P + FAULT_P
    k = rng.choices((1, 2, 3), weights=(65, 20, 15))[0]
    rcpts = [f"rcpt{rng.randrange(2000)}@{rng.choice(_RCPT_DOMAINS)}" for _ in range(k)]
    pre = "{ts} mail "
    out = [
        pre + f"postfix/smtpd[{pid}]: {qid}: client={client_host}[{ip}]"
        + (", sasl_method=PLAIN, sasl_username=" + sender if rng.random() < 0.5 else "")
    ]
    if not faulting:
        out.append(pre + f"postfix/cleanup[{cpid}]: {qid}: message-id=<{mid}>")
    if rng.random() < EXTRA_P:
        subj = base64.b64encode(rng.choice(_UTF8_SUBJECTS).encode()).decode()
        out.append(
            pre + f"postfix/cleanup[{cpid}]: {qid}: warning: header Subject: "
            f"=?UTF-8?B?{subj}?= from {client_host}[{ip}]; from=<{sender}> "
            f"to=<{rcpts[0]}> proto=ESMTP helo=<{client_host}>"
        )
    if rng.random() < EXTRA_P:
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 6)))
        out.append(
            pre + f"postfix/cleanup[{cpid}]: {qid}: warning: header Subject: "
            f"{words} from {client_host}[{ip}]; from=<{sender}> to=<{rcpts[0]}>"
        )
    out.append(
        pre + f"postfix/qmgr[{pid + 1}]: {qid}: from=<{sender}>, "
        f"size={rng.randrange(800, 90000)}, nrcpt={k} (queue active)"
    )
    relay = rng.choice(_RELAYS)
    status = code = None
    for r in rcpts:
        status, dsn, code = rng.choice(_OUTCOMES)
        desc = f"{code} {dsn} <{r}> accepted"
        if rng.random() < 0.2:  # two pairs in the description: the last wins
            desc = f"host said: 451 4.3.0 try again later; then {desc}"
        orig = f" orig_to=<alias{rng.randrange(50)}@{r.split('@')[1]}>," if rng.random() < 0.1 else ""
        out.append(
            pre + f"postfix/lmtp[{pid + 2}]: {qid}: to=<{r}>,{orig} relay={relay}, "
            f"delay={rng.randrange(1, 400) / 100}, delays=0.1/0/0.1/0.2, "
            f"dsn={dsn}, status={status} ({desc})"
        )
    if not faulting and rng.random() < EXTRA_P:
        out.append(
            "{syslog} lmtp(" + rcpts[0].split("@")[0] + f")<{pid}><tok{serial % 97}>: "
            f"Info: sieve: msgid=<{mid}>: fileinto action: stored mail into mailbox 'INBOX'"
        )
    if not abandoned:
        out.append(pre + f"postfix/qmgr[{pid + 1}]: {qid}: removed")
    if abandoned or faulting:
        return out, "abandoned" if abandoned else "fault", None
    domains = sorted({r.split("@", 1)[1] for r in rcpts})
    return out, "event", {
        "queue_id": qid, "status": status, "status_code": code,
        "message_id": mid, "domains_to": domains,
    }


def _noise(rng: random.Random, qid_low: str) -> str:
    ip = f"198.51.100.{rng.randrange(1, 255)}"
    host = f"probe{rng.randrange(100)}.example.com"
    pid = rng.randrange(1000, 60000)
    c = rng.randrange(6)
    if c == 0:
        return "{ts} mail " + f"postfix/smtpd[{pid}]: connect from {host}[{ip}]"
    if c == 1:
        return ("{ts} mail " + f"postfix/smtpd[{pid}]: disconnect from {host}[{ip}] "
                "ehlo=1 mail=1 rcpt=1 data=1 quit=1 commands=5")
    if c == 2:
        return ("{ts} mail " + f"postfix/anvil[{pid}]: statistics: max connection "
                f"rate 1/60s for (smtp:{ip}) at Apr  9 20:00:01")
    if c == 3:
        return ("{ts} mail " + f"postfix/smtpd[{pid}]: NOQUEUE: reject: RCPT from "
                f"{host}[{ip}]: 554 5.7.1 Relay access denied; proto=ESMTP")
    if c == 4:  # lowercase queue id: rejected by the queue-id gate
        return "{ts} mail " + f"postfix/qmgr[{pid}]: {qid_low}: removed"
    return "{ts} mail " + f"CRON[{pid}]: (root) CMD (run-parts /etc/cron.hourly)"


def generate(seed: int, sessions: int, depth: int = 64, step_s: float = 0.05) -> MailLog:
    """Generate ``sessions`` interleaved sessions (``depth`` open at once)
    plus noise; see the module docstring for the mix."""
    rng = random.Random(seed)
    truth = Truth()
    used: set = set()
    open_: list = []  # [line templates, next index] per open session
    lines: list = []
    started = 0
    step = datetime.timedelta(seconds=step_s)
    t = START

    def new_qid() -> str:
        while True:
            q = f"{rng.getrandbits(44):011X}"
            if q not in used:
                used.add(q)
                return q

    def start_session() -> list:
        nonlocal started
        tmpl, fate, ev = _session(rng, new_qid(), started)
        started += 1
        if fate != "event":  # both stay open; a faulting removed also faults
            truth.state += 1
            truth.faults += fate == "fault"
        else:
            truth.events += 1
            truth.digests.append(event_digest(
                ev["queue_id"], ev["status"], ev["status_code"],
                ev["message_id"], ev["domains_to"]))
        return [tmpl, 0]

    while started < min(depth, sessions):
        open_.append(start_session())
    while open_:
        if rng.random() < NOISE_SHARE:
            # the leading letter keeps the lowercase id from being all digits
            tmpl = _noise(rng, f"a{rng.getrandbits(40):010x}")
        else:
            i = rng.randrange(len(open_))
            sess = open_[i]
            tmpl = sess[0][sess[1]]
            sess[1] += 1
            if sess[1] == len(sess[0]):  # finished: a new session takes its slot
                if started < sessions:
                    open_[i] = start_session()
                else:
                    open_[i] = open_[-1]
                    open_.pop()
        lines.append(
            tmpl.replace("{ts}", _iso(t)).replace("{syslog}", _syslog(t))
        )
        t += step
    return MailLog(lines=lines, truth=truth, sessions=sessions, depth=depth,
                   days=(t - START).total_seconds() / 86400)


def write_lines(path: str, lines) -> int:
    """Write lines with a trailing newline; returns the byte count."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
