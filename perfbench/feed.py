"""Seeded Kafka-shaped CDC wire feed for the streaming workloads.

The feed follows the shape the consumer topology is tested with: every
change event becomes one message whose key is ``public.<table>:<pk>``
and whose value is the JSON change envelope (TOAST update markers
included).  Rows are routed to three tables by ``user_id % 3``; only
``public.t0`` and ``public.t1`` are published.

The event rows are synthesized from the seed with the shape of the
``events`` corpus: ``event_id`` is the LSN, ``user_id`` the key (about
67 events per key), five event types with equal shares (``signup`` is an
insert, ``error`` a delete, everything else an update, so about 20% of
the messages are deletes), ``value`` with two decimals, ``props`` a
``{"k": n}`` payload, and event time increasing with the LSN.

Faults are planted from the same seed and recorded, so the consumer's
ledgers can be checked exactly:

* about 1% of the messages are corrupt: the JSON value loses its last
  8 bytes and can no longer be decoded (dead letter);
* about 1% are delivered 2 to 4 files after the file they belong to.
  Every file is one micro-batch, so such a message is older than the
  previous batch's recorded watermark minus the allowed delay, and the
  consumer must route it to the late ledger.

Everything here is plain Python, so the bytes of a feed depend only on
the seed and the size arguments.
"""

import datetime
import hashlib
import json
import random

TABLES = ("t0", "t1", "t2")
PUBLISHED = ("public.t0", "public.t1")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EVENTS_PER_KEY = 67
BASE_TS_MS = 1704067200000  # 2024-01-01T00:00:00Z
TS_STEP_MS = 26000          # the corpus spreads 100k events over 30 days
LATE_DELAY_MINUTES = 10
CORRUPT_SHARE = 0.01
LATE_SHARE = 0.01
LATE_FILES = (2, 3, 4)


def _ts_text(ms):
    t = datetime.datetime.fromtimestamp(ms / 1000.0, tz=datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (ms % 1000)


def envelope(lsn, user_id, event_type, value, k):
    """The JSON change envelope of one event, TOAST markers included.

    An update ships ``k`` as unchanged when ``lsn % 3 == 0`` and
    ``value`` when ``lsn % 5 == 0``: the cell stays in ``after`` with a
    null value and its name is listed in ``unchangedCols``.
    """
    table = TABLES[user_id % 3]
    op = {"signup": "insert", "error": "delete"}.get(event_type, "update")
    k_unch = op == "update" and lsn % 3 == 0
    v_unch = op == "update" and lsn % 5 == 0
    if op == "delete":
        after = {}
    else:
        after = {"user_id": str(user_id),
                 "value": None if v_unch else repr(value),
                 "k": None if k_unch else str(k)}
    env = {"op": op, "schemaName": "public", "tableName": table,
           "lsn": lsn, "ts": _ts_text(BASE_TS_MS + lsn * TS_STEP_MS),
           "key": "public.%s:%d" % (table, user_id),
           "before": {}, "after": after, "txnId": lsn // 100}
    if op == "update":
        env["unchangedCols"] = (["k"] if k_unch else []) + \
            (["value"] if v_unch else [])
    return env


class Message:
    __slots__ = ("key", "value", "lsn", "ts_ms", "table", "published",
                 "corrupt", "home_file", "file")

    def __init__(self, key, value, lsn, ts_ms, table, corrupt, home_file):
        self.key = key
        self.value = value
        self.lsn = lsn
        self.ts_ms = ts_ms
        self.table = table
        self.published = table in PUBLISHED
        self.corrupt = corrupt
        self.home_file = home_file
        self.file = home_file


def _events(rng, n, lsn0, key0, users=None):
    users = users or max(1, n // EVENTS_PER_KEY)
    for i in range(n):
        yield (lsn0 + i, key0 + rng.randrange(users),
               rng.choice(EVENT_TYPES), rng.randrange(1, 20000) / 100.0,
               rng.randrange(100))


def _message(rng, ev, home_file):
    lsn, user_id, event_type, value, k = ev
    env = envelope(lsn, user_id, event_type, value, k)
    raw = json.dumps(env, separators=(",", ":")).encode()
    corrupt = rng.random() < CORRUPT_SHARE
    if corrupt:
        raw = raw[:-8]
    return Message(env["key"].encode(), raw, lsn,
                   BASE_TS_MS + lsn * TS_STEP_MS,
                   "public." + env["tableName"], corrupt, home_file)


def microbatch_feed(seed, files, per_file):
    """A backlog of ``files`` feed files of about ``per_file`` messages.

    Returns the list of files, each a list of messages in delivery
    order.  A late message is appended to the file it is delivered in.
    """
    rng = random.Random("microbatch:%d" % seed)
    msgs = [_message(rng, ev, i // per_file)
            for i, ev in enumerate(_events(rng, files * per_file, 0, 0))]
    for m in msgs:
        if rng.random() < LATE_SHARE:
            d = rng.choice(LATE_FILES)
            if m.home_file + d < files:
                m.file = m.home_file + d
    out = [[] for _ in range(files)]
    for m in msgs:
        if m.file == m.home_file:
            out[m.file].append(m)
    for m in msgs:
        if m.file != m.home_file:
            out[m.file].append(m)
    return out


def backfill_feed(seed, users, events_per_key, replays):
    """``replays`` copies of one seeded set of ``users * events_per_key``
    events over ``users`` keys as a backlog, one file per copy.  Copy
    ``r`` shifts keys by ``r * users`` and LSNs by ``r`` times the set's
    size, so the copies never share a key.  The backlog is consumed in
    one batch, so no message is delivered late.
    """
    rng = random.Random("backfill:%d" % seed)
    base_events = users * events_per_key
    base = list(_events(rng, base_events, 0, 0, users))
    out = []
    for r in range(replays):
        shifted = [(lsn + r * base_events, uid + r * users, t, v, k)
                   for lsn, uid, t, v, k in base]
        out.append([_message(rng, ev, r) for ev in shifted])
    return out


def admission(files, delay_minutes=LATE_DELAY_MINUTES):
    """Replay the consumer's admission rule over the batch boundaries
    the files make (one file per batch).

    Returns ``(dead, late, admitted)`` lists of published messages.  A
    message is dead when its value cannot be decoded; otherwise it is
    late when its event time is older than the watermark recorded after
    the previous batch minus the delay, and admitted when it is not.
    The first batch has no recorded watermark, so nothing in it is late.
    """
    delay_ms = delay_minutes * 60 * 1000
    dead, late, admitted = [], [], []
    mark = None
    for f in files:
        batch_max = None
        for m in f:
            if not m.published:
                continue
            if m.corrupt:
                dead.append(m)
                continue
            batch_max = m.ts_ms if batch_max is None else max(batch_max, m.ts_ms)
            if mark is not None and m.ts_ms < mark - delay_ms:
                late.append(m)
            else:
                admitted.append(m)
        if batch_max is not None:
            mark = batch_max if mark is None else max(mark, batch_max)
    return dead, late, admitted


def planted_late(files):
    """Published, decodable messages the generator delivered late."""
    return [m for f in files for m in f
            if m.published and not m.corrupt and m.file != m.home_file]


def statuses(files):
    """The fate of every message, keyed by ``id``: ``u`` unpublished,
    ``d`` dead, ``l`` late, ``a`` admitted."""
    dead, late, admitted = admission(files)
    fate = {}
    for tag, ms in (("d", dead), ("l", late), ("a", admitted)):
        for m in ms:
            fate[id(m)] = tag
    return fate


def lines(files):
    """The feed as ``file<TAB>status<TAB>key<TAB>value`` lines.

    Keys and JSON values never hold tabs or newlines (truncation only
    shortens a value), so the lines carry the wire bytes unchanged.
    """
    fate = statuses(files)
    for i, f in enumerate(files):
        for m in f:
            yield b"%d\t%s\t%s\t%s\n" % (
                i, fate.get(id(m), "u").encode(), m.key, m.value)


def digest(files):
    """SHA-256 of the feed lines."""
    h = hashlib.sha256()
    for line in lines(files):
        h.update(line)
    return h.hexdigest()


def write_feed(files, path):
    """Writes the feed lines to ``path``; returns their SHA-256."""
    h = hashlib.sha256()
    with open(path, "wb") as out:
        for line in lines(files):
            h.update(line)
            out.write(line)
    return h.hexdigest()
