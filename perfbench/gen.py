"""Seeded input generation for the benchmark workloads.

The tables have the layout and the size of the sf0.1 test data the engine is
checked on: `documents` (5,000 docs of 10-99 words from a 30-word vocabulary,
5% of them near-copies of another doc with a trailing "dup" token) and
`events` (100,000 events over 2024-01-01..2024-01-30, 1,500 users, five
event types, a fifth of them clicks). Row counts, value ranges and
proportions are fixed; the seed draws the content. So every seed gives the
engine the same amount of work of the same shape, and two seeds differ only
in which words, users and timestamps the rows carry.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
N_DOCS = 5000
N_EVENTS = 100_000
N_USERS = 1500
DUP_SHARE = 0.05
EPOCH = dt.datetime(2024, 1, 1)


def documents(rng, n_docs=N_DOCS):
    n_words = rng.integers(10, 100, size=n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in n_words]
    dups = rng.choice(n_docs, size=int(n_docs * DUP_SHARE), replace=False)
    dup_set = set(dups.tolist())
    originals = np.array([i for i in range(n_docs) if i not in dup_set])
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events(rng, n_events=N_EVENTS, n_users=N_USERS):
    """`n_events // 30` events on each of the 30 days, a fifth of each day's
    events of each type, so every seed has the same volume per day and type."""
    per_day = n_events // 30
    day_us = 86_400 * 1_000_000
    base = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.concatenate([base + d * day_us + np.sort(rng.integers(0, day_us, size=per_day))
                         for d in range(30)])
    types = np.concatenate([rng.permutation(np.resize(np.arange(5), per_day))
                            for _ in range(30)])
    n = len(ts)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[types]),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, size=n), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def day_cut(ev, day):
    """Events whose date is on or before `day` (the click log as ingested
    through the end of that day)."""
    end = np.datetime64(day + dt.timedelta(days=1), "us")
    n = int(np.searchsorted(ev.column("ts").to_numpy(), end))
    return ev.slice(0, n)


REC_DAYS = [dt.date(2024, 1, 5) + dt.timedelta(days=i) for i in range(21)]


def daily_rec(seed, out, scale):
    """Documents and one click-log cut per simulated day, with `scale` times
    the sf0.1 row counts. Returns the seeded day order and each day's click
    count."""
    rng = np.random.default_rng([seed, 1])
    write(documents(rng, int(N_DOCS * scale)), f"{out}/docs/documents.parquet")
    ev = events(rng, int(N_EVENTS * scale), int(N_USERS * scale))
    for d in REC_DAYS:
        write(day_cut(ev, d), f"{out}/cuts/{d}/events.parquet")
    days = ev.column("ts").to_numpy().astype("datetime64[D]")
    is_click = ev.column("event_type").to_numpy(zero_copy_only=False) == "click"
    clicks = {str(d): int(np.sum(is_click & (days == np.datetime64(d)))) for d in REC_DAYS}
    return [str(REC_DAYS[i]) for i in rng.permutation(len(REC_DAYS))], clicks


def click_stream(seed, out, n_slices, scale):
    """Event log with `scale` times the sf0.1 events and users, cut into
    `n_slices` event-time-ordered slices of seeded, unequal sizes (0.8-1.2x
    the mean), plus seeded arrival jitter as a fraction of one arrival
    interval. Returns the jitter and each slice's event count."""
    rng = np.random.default_rng([seed, 3])
    ev = events(rng, int(N_EVENTS * scale), int(N_USERS * scale))
    weights = rng.uniform(0.8, 1.2, size=n_slices)
    bounds = np.concatenate([[0], np.round(np.cumsum(weights) / weights.sum()
                                           * ev.num_rows).astype(int)])
    for i in range(n_slices):
        write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
              f"{out}/slices/slice_{i:05d}.parquet")
    sizes = [int(x) for x in np.diff(bounds)]
    return [float(x) for x in rng.uniform(-0.25, 0.25, size=n_slices)], sizes
