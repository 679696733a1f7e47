"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: the inputs are written before the
Spark session exists, so generating them costs no engine time and the same
seed always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import quopri
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kafka_flink_slack_pipeline_spark.sources.email import DEFAULT_SINCE

# Schemas mirror kafka_flink_slack_pipeline_spark.schemas (EMAILS_RAW_SCHEMA,
# SLACK_EVENT_SCHEMA, SLACK_MESSAGE_SCHEMA); the streams read these files
# with the engine's own StructTypes, so a drift fails loudly at read time.
EMAILS_RAW = pa.schema([
    ("email_id", pa.int64()), ("seqno", pa.int32()), ("mailbox", pa.string()),
    ("fetch_ts", pa.timestamp("us", tz="UTC")), ("seen", pa.bool_()),
    ("internal_date", pa.date32()), ("subject_raw", pa.string()),
    ("body_raw", pa.string()),
])
SLACK_FILE = pa.struct([
    ("id", pa.string()), ("mimetype", pa.string()),
    ("url_private", pa.string()), ("permalink_public", pa.string()),
])
SLACK_EVENT = pa.schema([
    ("event_id", pa.int64()), ("type", pa.string()), ("channel", pa.string()),
    ("channel_type", pa.string()), ("user", pa.string()), ("text", pa.string()),
    ("ts", pa.string()), ("thread_ts", pa.string()), ("subtype", pa.string()),
    ("bot_id", pa.string()), ("files", pa.list_(SLACK_FILE)),
])
SLACK_MESSAGE = pa.schema([
    ("channel", pa.string()), ("ts", pa.string()), ("thread_ts", pa.string()),
    ("user", pa.string()), ("text", pa.string()),
])

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NAMES = "John Jane Maria Ahmed Li Sofia Pedro Anna".split()
SURNAMES = "Smith Doe Garcia Khan Chen Rossi Silva Novak".split()


_WORDS = np.array(WORDS)


def _sentences(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n random sentences of lo..hi-1 words, drawn in one batch."""
    lengths = rng.integers(lo, hi, n)
    words = _WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    return [" ".join(w).capitalize() + "." for w in np.split(words, cuts)]


class _Draw:
    """Text drawn from one seeded stream in large batches; per-call numpy
    draws would dominate generation time."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self._pools: dict[tuple[int, int], list[str]] = {}

    def sentence(self, lo: int, hi: int) -> str:
        pool = self._pools.get((lo, hi))
        if not pool:
            pool = self._pools[(lo, hi)] = _sentences(self.rng, 4096, lo, hi)
        return pool.pop()

    def int(self, lo: int, hi: int) -> int:
        return int(self.rng.integers(lo, hi))

    def caps(self) -> str:
        return self.sentence(3, 4)[:-1].upper()

    def person(self) -> str:
        return f"{NAMES[self.int(0, len(NAMES))]} {SURNAMES[self.int(0, len(SURNAMES))]}"


def _story(d: _Draw, i: int) -> list[str]:
    """One newsletter story: CAPS heading (P12), title + bare URL pair
    (W3), body lines, an image URL (P14) and a byline (P15)."""
    return [
        d.caps(),
        f"{d.sentence(4, 9)[:-1]} ({d.int(2, 9)} minute read)",
        f"https://news.example.com/story/{i}",
        *(d.sentence(12, 30) for _ in range(d.int(2, 5))),
        f"https://cdn.example.com/img/{i}.png",
        f"by {d.person()}",
        "",
    ]


def _newsletter(d: _Draw, seqno: int, stories: int) -> str:
    lines = [
        f"Intro text Together With Sponsor{seqno % 97}",
        "Content-Type: text/plain; charset=utf-8",
        f"TLDR 2025-09-{seqno % 28 + 1:02d}",
        "",
    ]
    for s in range(stories):
        lines += _story(d, seqno * 100 + s)
    lines += [
        "Love TLDR? Tell your friends and get rewards!",
        "Unsubscribe footer text",
    ]
    return "\n".join(lines)


def _html(d: _Draw, seqno: int, stories: int) -> str:
    parts = ["<html><head><style>p{margin:0}</style></head><body>"]
    for s in range(stories):
        i = seqno * 100 + s
        parts += [
            f"<h2>{d.caps()}</h2>",
            f"<p>{d.sentence(12, 30)} <a href=\"https://news.example.com/{i}\">"
            f"{d.sentence(2, 4)[:-1].lower()}</a></p>",
            f"<p>by <a href=\"https://people.example.com/{i}\">{d.person()}</a></p>",
        ]
    parts.append("<p>Love TLDR? Tell your friends and get rewards!</p></body></html>")
    return "".join(parts)


def _exact(rng: np.random.Generator, n: int, shares: dict[str, float]) -> np.ndarray:
    """n labels holding each share exactly (rounded), shuffled; the rest
    are "". Exact shares keep counts, and so throughput, seed-independent."""
    labels = np.full(n, "", dtype=object)
    start = 0
    for label, share in shares.items():
        k = round(n * share)
        labels[start:start + k] = label
        start += k
    return rng.permutation(labels)


@dataclass(frozen=True)
class EmailMix:
    """Input properties of the email_bulk workload."""

    emails: int = 1_500  # per timed file, one micro-batch each
    setup_emails: int = 300  # per set-up file (the first micro-batch)
    html_share: float = 0.15
    qp_share: float = 0.15
    long_share: float = 0.10  # bodies over the 2,900-char block limit
    seen_share: float = 0.05  # filtered by the UNSEEN predicate
    old_share: float = 0.03  # filtered by the SINCE predicate (DEFAULT_SINCE)


SEQNO_STRIDE = 100_000  # file k holds seqnos k * stride + 1 ...


def write_emails(path: str, seed: int, index: int, n: int, mix: EmailMix) -> int:
    """Write file `index` of the stream's input, `n` raw emails, to `path`;
    returns the number of emails the producer should admit (unseen and
    on/after DEFAULT_SINCE). Seqnos, and so idempotency keys, never repeat across
    files."""
    rng = np.random.default_rng([seed, index])
    d = _Draw(rng)
    kinds = _exact(rng, n, {"long": mix.long_share, "html": mix.html_share,
                            "qp": mix.qp_share})
    gates = _exact(rng, n, {"seen": mix.seen_share, "old": mix.old_share})
    rows = {k: [] for k in EMAILS_RAW.names}
    first = index * SEQNO_STRIDE + 1
    for seqno, kind, gate in zip(range(first, first + n), kinds, gates):
        if kind == "long":
            body = _newsletter(d, seqno, d.int(12, 20))
        elif kind == "html":
            body = _html(d, seqno, d.int(2, 5))
        else:
            body = _newsletter(d, seqno, d.int(2, 4))
            if kind == "qp":
                body = quopri.encodestring(
                    body.replace("Intro", "Café intro").encode("utf-8")
                ).decode("ascii")
        day = DEFAULT_SINCE + dt.timedelta(days=-3 if gate == "old" else d.int(0, 40))
        rows["email_id"].append(seqno)
        rows["seqno"].append(seqno)
        rows["mailbox"].append("Tech News")
        rows["fetch_ts"].append(dt.datetime(2025, 10, 1, tzinfo=dt.timezone.utc))
        rows["seen"].append(gate == "seen")
        rows["internal_date"].append(day)
        rows["subject_raw"].append(
            None if seqno % 50 == 0 else f"Brief #{seqno}: {d.sentence(3, 7)}")
        rows["body_raw"].append(body)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows, schema=EMAILS_RAW), path)
    return int((gates == "").sum())


def write_envelopes(staged: pa.Table, path: str) -> None:
    """Producer output -> one Kafka-envelope file (offset = seqno), the
    file-backed stand-in for the topic between the two streams."""
    staged = staged.sort_by("seqno")
    m = staged.num_rows
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "key": pa.nulls(m, pa.binary()),
        "value": staged["value"].cast(pa.binary()),
        "topic": pa.array(["technews"] * m),
        "partition": pa.array([0] * m, pa.int32()),
        "offset": staged["seqno"].cast(pa.int64()),
        "timestamp": pa.array([dt.datetime(2025, 10, 1)] * m, pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array([0] * m, pa.int32()),
    }), path)


@dataclass(frozen=True)
class MentionMix:
    """Input properties of the mention path's layer measurement."""

    history_rows: int = 100_000
    threads: int = 2_000
    channels: int = 20
    mentions: int = 10
    threaded_share: float = 0.6
    empty_share: float = 0.1
    bot_share: float = 0.1


def _ts(sec: int, micro: int) -> str:
    return f"{sec}.{micro:06d}"


def write_history(path: str, seed: int, mix: MentionMix) -> list[tuple[str, str]]:
    """Static thread history: roots plus replies; returns the (channel,
    root ts) of every thread for the mention generator."""
    rng = np.random.default_rng(seed + 1)
    base = 1_712_000_000
    roots = [(f"C{t % mix.channels:03d}", base + t * 37) for t in range(mix.threads)]
    n_replies = mix.history_rows - mix.threads
    thread_of = rng.integers(0, mix.threads, n_replies)
    offsets = rng.integers(1, 30 * 86_400, n_replies)
    users = rng.integers(0, 300, mix.history_rows)
    ch = [c for c, _ in roots] + [roots[t][0] for t in thread_of]
    ts = [_ts(sec, 1) for _, sec in roots] + [
        _ts(roots[t][1] + int(off), i % 999_999 + 2)
        for i, (t, off) in enumerate(zip(thread_of, offsets))
    ]
    tts = [None] * mix.threads + [_ts(roots[t][1], 1) for t in thread_of]
    user = [f"U{u:04d}" for u in users]
    text = _sentences(rng, mix.history_rows, 4, 20)
    pq.write_table(pa.table({"channel": ch, "ts": ts, "thread_ts": tts,
                             "user": user, "text": text}, schema=SLACK_MESSAGE), path)
    return [(c, _ts(sec, 1)) for c, sec in roots]


def write_mentions(out_dir: str, seed: int, mix: MentionMix,
                   roots: list[tuple[str, str]]) -> int:
    """One parquet file of mention events in `out_dir`; returns the number
    of non-bot mentions (the replies the server must post)."""
    rng = np.random.default_rng(seed + 2)
    d = _Draw(rng)
    n = mix.mentions
    bots = _exact(rng, n, {"bot": mix.bot_share})
    empties = _exact(rng, n, {"empty": mix.empty_share})
    threaded = _exact(rng, n, {"threaded": mix.threaded_share})
    rows = {k: [] for k in SLACK_EVENT.names}
    for i in range(n):
        c, root = roots[d.int(0, len(roots))]
        bot = bots[i] == "bot"
        rows["event_id"].append(i + 1)
        rows["type"].append("app_mention")
        rows["channel"].append(c)
        rows["channel_type"].append("channel")
        rows["user"].append("B0001" if bot else f"U{d.int(0, 300):04d}")
        rows["text"].append(
            "<@UBOT>" if empties[i] == "empty" else f"<@UBOT> {d.sentence(3, 12)}")
        rows["ts"].append(_ts(1_716_000_000 + i, 100))
        rows["thread_ts"].append(root if threaded[i] == "threaded" else None)
        rows["subtype"].append("bot_message" if bot else None)
        rows["bot_id"].append("B99" if bot else None)
        rows["files"].append(None)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table(rows, schema=SLACK_EVENT), os.path.join(out_dir, "mentions.parquet"))
    return int((bots != "bot").sum())


@dataclass(frozen=True)
class TableMix:
    """Input properties of the batch_hot workload: the testdata tables its
    queries read, in their shape (a 30-word vocabulary, 35-580 char docs)
    at twice the sf0.01 document count."""

    documents: int = 1_000
    dup_share: float = 0.05  # planted near-duplicates (one word changed)
    customers: int = 1_500
    orders: int = 15_000
    lineitems: int = 60_000


LANGS = np.array(["en", "zh", "es", "fr", "de"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def write_tables(out_dir: str, seed: int, mix: TableMix) -> None:
    """documents / customer / orders / lineitem parquet files in the
    testdata layout (`<name>.parquet`), read by tables.table()."""
    rng = np.random.default_rng(seed + 3)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n = mix.documents
    lengths = rng.integers(8, 100, n)
    words = _WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    for i in np.flatnonzero(rng.random(n) < mix.dup_share):
        src = texts[int(rng.integers(0, n))].split()
        src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(src) + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    c = mix.customers
    put("customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)],
    })

    o = mix.orders
    odate = _days(rng, "1995-01-01", 2404, o)
    put("orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, o), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, o)],
    })

    li = mix.lineitems
    okey = rng.integers(0, o, li)
    qty = rng.integers(1, 51, li).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": pa.array(
            odate[okey] + rng.integers(1, 122, li) * np.timedelta64(1, "D"),
            pa.timestamp("us")),
    })
