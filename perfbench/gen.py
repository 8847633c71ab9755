"""Seeded input generators for the benchmark.

Each generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet, a different seed writes different rows.
The tables keep the schemas the declared queries read, so the queries
consume them unchanged from a temporary ``sf_dir``:

* ``events(event_id, ts, user_id, event_type, value, props)``
* ``documents(doc_id, text, lang, source, n_chars)``
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parameters measured on the fixed test data (sf0.1: 100,000 events of
# 1,500 users; 5,000 documents), unless marked synthetic; README.md,
# "Inputs", lists both side by side.
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.2] * 5  # test data: 0.198-0.203 each
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, the test data's first day
SPAN_US = 30 * 24 * 3600 * 1_000_000  # test data: timestamps uniform over 30 days
VALUE_MEAN = 50.0  # test data: value exponential, p1 0.53, p50 34.8, p99 228
# Synthetic: events per user are heavy-tailed (lognormal weights of
# sigma 1, capped at 25x the mean weight) so the largest users put long
# arrays into the kernels; the test data's users hold 45-99 events
# each. Only the mean, 66.7 events per user, is the test data's.
USER_SIGMA = 1.0
USER_CAP = 25.0

LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20  # assigned round-robin, as in the test data
VOCAB = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window order data column join small line customer query big filter group "
    "sort stream vector".split()
)
DOC_WORDS = (10, 100)  # test data: 10-100 words, p50 54
# Share of documents that belong to a planted near-duplicate cluster
# (the cluster's base document included); test data: 9.5 %.
DUP_RATE = 0.095
# Copies per cluster: 1, 2 or 3; test data: 223, 9 and 1 clusters.
COPIES_P = [223 / 233, 9 / 233, 1 / 233]
# Synthetic: words in a cluster's base document. The test data's bases
# have 10-100 words; 50 or more keep every in-cluster Jaccard at 0.94
# or above (see documents_table).
BASE_WORDS = (50, 100)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _user_counts(rng, n_users: int, n_events: int) -> np.ndarray:
    """Heavy-tailed events per user, at least one each, summing to
    exactly ``n_events``."""
    mean_w = np.exp(USER_SIGMA ** 2 / 2)
    w = np.minimum(rng.lognormal(0.0, USER_SIGMA, n_users), USER_CAP * mean_w)
    counts = 1 + np.floor(w / w.sum() * (n_events - n_users)).astype(np.int64)
    extra = n_events - int(counts.sum())
    counts += np.bincount(rng.choice(n_users, extra, p=w / w.sum()), minlength=n_users)
    return counts


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """Events with timestamps uniform over 30 days, distinct within
    each user, sorted by user and time."""
    rng = _rng(seed, 1)
    counts = _user_counts(rng, n_users, n_events)
    user = np.repeat(np.arange(1, n_users + 1, dtype=np.int64), counts)
    # one time line per user, 2 spans apart; sort, then lift each tie
    # by 1 us: t'_i = i + max_{j <= i}(t_j - j) is strictly increasing
    key = np.sort(user * 2 * SPAN_US + rng.integers(0, SPAN_US, n_events))
    idx = np.arange(n_events)
    key = idx + np.maximum.accumulate(key - idx)
    ts = T0_US + key - user * 2 * SPAN_US
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n_events, p=EVENT_TYPE_P)]
    value = np.round(rng.exponential(VALUE_MEAN, n_events), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def _doc_words(rng, lo: int, hi: int) -> list:
    return list(VOCAB[rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))])


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Random documents plus planted near-duplicate clusters: a base
    document and 1-3 copies, the k-th ending in k extra ``dup`` words,
    as in the test data. With bases of 50 words or more, every pair
    inside a cluster has word 3-shingle Jaccard of at least 0.94, so
    MinHash LSH finds it with probability above 0.997 and the
    clusters' edge sets, and with them the rounds connected components
    needs, do not vary with the seed. Documents are shuffled into
    random order."""
    rng = _rng(seed, 2)
    n_dup = int(round(n_docs * DUP_RATE))
    texts: list = []
    while len(texts) < n_dup:
        base = _doc_words(rng, *BASE_WORDS)
        texts.append(" ".join(base))
        for k in range(1, 2 + int(rng.choice(len(COPIES_P), p=COPIES_P))):
            if len(texts) >= n_dup:
                break
            texts.append(" ".join(base + ["dup"] * k))
    while len(texts) < n_docs:
        texts.append(" ".join(_doc_words(rng, *DOC_WORDS)))
    texts = np.array(texts, dtype=object)[rng.permutation(n_docs)]
    lang = LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    source = np.array([f"src{i % N_SOURCES}" for i in range(n_docs)])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_table(table: pa.Table, sf_dir: str, name: str, n_files: int) -> None:
    """Write ``<sf_dir>/<name>.parquet`` as a directory of ``n_files``
    single-row-group files (the layout ``DataFrame.write.parquet``
    makes), so the scan has at least ``n_files`` splits."""
    out = os.path.join(sf_dir, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out, f"part-{i:05d}.parquet"),
                       row_group_size=max(part.num_rows, 1))


def events_profile(table: pa.Table) -> dict:
    per_user = np.bincount(table.column("user_id").to_numpy())
    per_user = per_user[per_user > 0]
    user = table.column("user_id").to_numpy()
    ts = table.column("ts").cast("int64").to_numpy()
    gaps = np.diff(ts)[user[1:] == user[:-1]]
    return {
        "events": table.num_rows,
        "users": int(per_user.size),
        "events_per_user_p50": float(np.percentile(per_user, 50)),
        "events_per_user_p99": float(np.percentile(per_user, 99)),
        "events_per_user_max": int(per_user.max()),
        "gap_under_30min_share": round(float(np.mean(gaps < 30 * 60 * 1_000_000)), 4),
    }


def documents_profile(table: pa.Table) -> dict:
    texts = table.column("text").to_pylist()
    return {
        "documents": table.num_rows,
        "planted_dup_rate": DUP_RATE,
        "marked_dup_share": round(sum(t.endswith(" dup") for t in texts) / len(texts), 4),
        "exact_dup_share": round(1 - len(set(texts)) / len(texts), 4),
    }
