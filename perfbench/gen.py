"""Seeded input generator for the benchmark.

Uses numpy and pyarrow only and imports nothing from the engine, so a
change to the program cannot change the inputs it is measured on.
Every table is written in the ``io.load`` layout
(``<dir>/<table>.parquet``) with the schemas of the engine's synthetic
test tables:

- ``events``: event_id int64, ts timestamp[us], user_id int64,
  event_type string, value double, props string (``{"k": ...}``);
- ``documents``: doc_id int64, text string, lang string, source string,
  n_chars int64;
- ``embeddings``: vec_id int64, embedding list<float>, label int32.

Each generator returns the table it wrote. :class:`InputLog` keeps the
row counts and a content hash of everything a run generated, so two
runs on one seed are shown to share their inputs.

Values are full-precision doubles and timestamps are strictly
increasing, so 4-dp rounding never lands on a tie and first/last
aggregates have a unique answer.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000

#: Tag values outside the engine's SQL whitelist: quotes, unicode and
#: spaces next to them. No backslash: Spark and DuckDB give it different
#: LIKE semantics, which would be a reference mismatch, not a defect.
HOSTILE_TAGS = ("o'neil", "zürich", "naïve café", "日本", "it's 50%", "ﬁ-lig")

WORDS = tuple(
    "the a of and to in is it for on with as at by from stream spark window "
    "merge join batch query filter table value order key scan hash data line "
    "part sort agg group vector row column fast slow big small customer "
    "trade option whale premium symbol market price volume tick quote bid "
    "ask spread latency shard index token corpus dedup signal".split()
)
LANGS = ("en", "de", "fr", "es", "zh")
EMBEDDING_DIM = 64


def events_schema() -> pa.Schema:
    return pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )


class InputLog:
    """Row counts and a running content hash of generated inputs."""

    def __init__(self) -> None:
        self.rows: dict[str, int] = {}
        self._h = hashlib.sha256()

    def add(self, kind: str, table: pa.Table) -> None:
        self.rows[kind] = self.rows.get(kind, 0) + table.num_rows
        self._h.update(kind.encode())
        for col in table.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        self._h.update(memoryview(buf))

    def add_obj(self, kind: str, obj) -> None:
        self.rows[kind] = self.rows.get(kind, 0) + 1
        self._h.update(kind.encode())
        self._h.update(json.dumps(obj, sort_keys=True).encode())

    def digest(self) -> str:
        return self._h.hexdigest()[:16]


def write_table(table: pa.Table, out_dir: str, name: str, row_group_size: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)
    return path


def _strictly_increasing(rng: np.random.Generator, n: int, start_us: int, span_us: int) -> np.ndarray:
    """n sorted, distinct microsecond timestamps in [start, start+span)."""
    gaps = rng.exponential(1.0, n) + 1e-3
    pos = np.cumsum(gaps)
    pos = pos / pos[-1] * (span_us - n - 1)
    return start_us + pos.astype(np.int64) + np.arange(n, dtype=np.int64)


def _props(k: np.ndarray, hostile: np.ndarray | None) -> pa.Array:
    """``{"k": 12}`` for numeric tags, ``{"k": "o'neil"}`` for hostile ones."""
    vals = np.array([str(i) for i in range(100)], dtype=object)[k]
    if hostile is not None:
        quoted = np.array(
            [json.dumps(h, ensure_ascii=False) for h in HOSTILE_TAGS], dtype=object
        )
        mask = hostile >= 0
        vals[mask] = quoted[hostile[mask]]
    return pc.binary_join_element_wise('{"k": ', pa.array(vals, pa.string()), "}", "")


def events_table(
    rng: np.random.Generator,
    n: int,
    start_us: int,
    span_us: int,
    *,
    n_streams: int,
    zipf_a: float = 1.3,
    first_id: int = 0,
    hostile_share: float = 0.0,
    shuffle: bool = False,
) -> pa.Table:
    """Events with Zipf-skewed streams (``user_id``), in ``ts`` order
    unless ``shuffle``. ``value`` spans 0..490 like the test data."""
    ts = _strictly_increasing(rng, n, start_us, span_us)
    user = (rng.zipf(zipf_a, n) - 1) % n_streams
    # Permute stream ids so the hot streams are not simply 0, 1, 2.
    user = rng.permutation(n_streams)[user]
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = rng.uniform(0.0, 490.0, n)
    k = rng.integers(0, 100, n)
    hostile = None
    if hostile_share > 0:
        hostile = np.where(
            rng.random(n) < hostile_share, rng.integers(0, len(HOSTILE_TAGS), n), -1
        )
    order = rng.permutation(n) if shuffle else np.arange(n)
    return pa.table(
        {
            "event_id": pa.array(first_id + order, pa.int64()),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": pa.array(user[order].astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype[order]], pa.string()),
            "value": pa.array(value[order]),
            "props": _props(k[order], None if hostile is None else hostile[order]),
        },
        schema=events_schema(),
    )


def documents_table(
    rng: np.random.Generator, n: int, *, near_dup_share: float = 0.05, exact_share: float = 0.002
) -> pa.Table:
    """Documents of 20-120 words with planted near-duplicates (a few
    words changed) and exact copies of earlier documents."""
    vocab = np.array(WORDS, dtype=object)
    lengths = rng.integers(20, 121, n)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < exact_share:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < exact_share + near_dup_share:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 15)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = EMBEDDING_DIM) -> pa.Table:
    """Unit-ish float32 vectors around 10 label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vec = centroids[labels] + rng.normal(0.0, 1.5, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


# ---------------------------------------------------------------------
# Dashboard request mix (plain dicts; the workload turns them into the
# engine's QuerySpec / EventQuerySpec).
# ---------------------------------------------------------------------

NUMERIC_AGGS = ("Mean", "Max", "Min", "First", "Last", "Sum", "Count", "Median", "Spread")
STRING_AGGS = ("First", "Last", "Count")
EVENT_AGGS = ("None", "First", "Last", "Count")
INTERPOLATIONS = ("None", "Null", "Previous", "Linear")
EVENT_LEVELS = ("Trace", "Debug", "Information", "Warning", "Error", "Critical")
DURATIONS = (
    ("1 minute", 60), ("5 minutes", 300), ("15 minutes", 900),
    ("1 hour", 3600), ("6 hours", 21600), ("1 day", 86400),
)
SHORT_RANGES_S = (900, 3600, 6 * 3600, 86400)
LONG_RANGES_S = (7 * 86400, 14 * 86400, 30 * 86400)
MAX_BUCKETS = 1500
MAX_GROUPED_BUCKETS = 96


def _iso(us: int) -> str:
    return np.datetime64(us // 1_000_000, "s").astype(str).replace("T", " ")


def _pick(rng: np.random.Generator, seq):
    return seq[int(rng.integers(0, len(seq)))]


def _range(rng: np.random.Generator, span_days: int, long: bool, k: int, max_len: int | None = None) -> tuple[int, int, int]:
    """A range whose length cycles with k; the seed places it."""
    choices = LONG_RANGES_S if long else SHORT_RANGES_S
    if max_len is not None:
        choices = [c for c in choices if c <= max_len]
    length = min(choices[k % len(choices)], span_days * 86400)
    align = 900 if length < 3600 else 3600
    start = int(rng.integers(0, (span_days * 86400 - length) // align + 1)) * align
    return start, start + length, length


def _duration(length: int, grouped: bool, k: int) -> str:
    cap = MAX_GROUPED_BUCKETS if grouped else MAX_BUCKETS
    ok = [d for d, s in DURATIONS if 2 <= length // s <= cap]
    return ok[k % len(ok)]


def _tag_filter(rng: np.random.Generator, hostile: bool, k: int) -> list:
    op = ("Equal", "NotEqual", "Like", "NotLike")[k % 4]
    if hostile:
        h = _pick(rng, HOSTILE_TAGS)
        # Like/NotLike keep the hostile prefix and add a wildcard.
        return ["k", op, h[:2] + "%" if op.endswith("Like") else h]
    if op.endswith("Like"):
        return ["k", op, _pick(rng, ("1%", "%7", "_3", "4_", "%%9%"))]
    if k % 3 == 2:
        return ["k", op, sorted(str(int(v)) for v in rng.choice(100, 3, replace=False))]
    return ["k", op, str(int(rng.integers(0, 100)))]


def _streams(rng: np.random.Generator, streams: np.ndarray, n: int) -> list[str]:
    """n distinct stream ids, hot streams more likely."""
    out: list[str] = []
    while len(out) < n:
        s = str(int(rng.choice(streams)))
        if s not in out:
            out.append(s)
    return sorted(out)


def _aggs(rng: np.random.Generator, n: int, k: int) -> list[list[str]]:
    """n (parameter, aggregation) pairs. The aggregations are the n
    entries of ``NUMERIC_AGGS`` from position 5k on, wrapping round, so
    nine fresh requests cover all of them and a costly Median lands in
    the same slots for every seed; the seed draws each one's parameter."""
    aggs = [NUMERIC_AGGS[(5 * k + j) % len(NUMERIC_AGGS)] for j in range(n)]
    pairs = [(str(_pick(rng, EVENT_TYPES)), a) for a in aggs]
    return [list(x) for x in sorted(pairs, key=lambda x: (EVENT_TYPES.index(x[0]), NUMERIC_AGGS.index(x[1])))]


def _data_spec(rng: np.random.Generator, span_days: int, streams: np.ndarray,
               hostile: bool, long: bool, k: int) -> dict:
    """The k-th fresh data request. Its shape (range length, bucket
    width, interpolation, tag grouping, raw samples, number of
    aggregates and streams, tag operator, ordering, paging) cycles with
    k, and so do the aggregations, so every run's first requests cost
    about the same whatever the seed; the seed draws the parameters,
    where the range starts, the streams and the tag values."""
    raw = k % 12 == 11 and not long
    start, end, length = _range(rng, span_days, long, k, max_len=3600 if raw else None)
    spec: dict = {
        "kind": "data",
        "hostile": hostile,
        "from": _iso(EPOCH_2024_US + start * 1_000_000),
        "to": _iso(EPOCH_2024_US + end * 1_000_000),
        "streams": None,
        "tags": [],
        "gbt": None,
        "group_tags": ["k"] if k % 5 == 4 else [],
        "numeric": [],
        "string": [],
        "order": [],
        "page": None,
    }
    if k % 2 == 0:
        spec["streams"] = _streams(rng, streams, 1 + k % 4)
    if hostile or k % 5 in (1, 3):
        spec["tags"].append(_tag_filter(rng, hostile, k))
    ordered, paged = k % 3 == 0, k % 6 == 0
    if raw:
        # 'None' = raw samples, one row per source sample.
        params = sorted(str(p) for p in rng.choice(EVENT_TYPES, 2, replace=False))
        spec["numeric"] = [[p, "None"] for p in params]
        spec["string"] = [[str(_pick(rng, EVENT_TYPES)), "None"]]
        if ordered:
            spec["order"] = [["ts", _pick(rng, ("Asc", "Desc"))]]
            spec["page"] = [int(rng.integers(0, 3)), int(rng.integers(10, 51))] if paged else None
        return spec
    spec["numeric"] = _aggs(rng, 1 + k % 4, k)
    if k % 4 == 1:
        spec["string"] = [[str(_pick(rng, EVENT_TYPES)), STRING_AGGS[(k // 4) % len(STRING_AGGS)]]]
    keys = []
    if k % 7 != 6:
        spec["gbt"] = [_duration(length, bool(spec["group_tags"]), k), INTERPOLATIONS[k % 4]]
        keys.append("bucket")
    keys += [f"tag_{t}" for t in spec["group_tags"]]
    if ordered and keys:
        direction = _pick(rng, ("Asc", "Desc"))
        spec["order"] = [[c, direction] for c in keys]
        if k % 2 == 0:
            values = [f"{p}_{a.lower()}" for p, a in spec["numeric"]]
            spec["order"].insert(0, [_pick(rng, values), _pick(rng, ("Asc", "Desc"))])
        if paged:
            spec["page"] = [int(rng.integers(0, 3)), int(rng.integers(10, 51))]
    return spec


def _event_spec(rng: np.random.Generator, span_days: int, streams: np.ndarray,
                hostile: bool, long: bool, k: int) -> dict:
    """The k-th fresh event request; its shape cycles with k."""
    start, end, length = _range(rng, span_days, long, k)
    agg = EVENT_AGGS[k % 4]
    grouped = k % 3 == 2
    interval = _duration(length, grouped, k) if k % 5 != 4 else None
    interps = ("None", "Null", "Previous") + (("Linear",) if agg == "Count" else ())
    spec = {
        "kind": "events",
        "hostile": hostile,
        "from": _iso(EPOCH_2024_US + start * 1_000_000),
        "to": _iso(EPOCH_2024_US + end * 1_000_000),
        "event_ids": None,
        "agg": agg,
        "interval": interval,
        "interp": interps[(k // 4) % len(interps)] if interval else "None",
        "streams": None,
        "include": None,
        "exclude": None,
        "tags": [],
        "group_tags": ["k"] if grouped else [],
    }
    if k % 2 == 0:
        spec["event_ids"] = sorted(str(e) for e in rng.choice(EVENT_TYPES, 1 + k % 3, replace=False))
    if k % 3 == 1:
        spec["streams"] = _streams(rng, streams, 1 + k % 4)
    if k % 4 == 1:
        spec["include"] = sorted(str(e) for e in rng.choice(EVENT_LEVELS, 3, replace=False))
    if k % 4 == 2:
        spec["exclude"] = [str(_pick(rng, EVENT_LEVELS))]
    if hostile or k % 3 == 0:
        spec["tags"].append(_tag_filter(rng, hostile, k))
    return spec


CYCLE = 20
#: One cycle of 20 requests: 5 repeats of the request two back (25 %),
#: 2 event queries (10 %), 2 with a tag value outside the whitelist
#: (10 %), 3 of the 15 fresh ones over 7 days or more (20 %). Slots are
#: fixed so every run's first requests have the same mix.
REPEAT_SLOTS = frozenset({3, 7, 11, 16, 19})
EVENT_SLOTS = frozenset({5, 15})
HOSTILE_SLOTS = frozenset({4, 14})
LONG_SLOTS = frozenset({2, 9, 13})


def dashboard_specs(rng: np.random.Generator, n: int, span_days: int, streams: np.ndarray) -> list[dict]:
    """n requests laid out in cycles of 20 slots (see the *_SLOTS sets).
    ``streams`` is a sample of stream ids drawn from the table's rows, so
    hot streams are asked for more often."""
    out: list[dict] = []
    fresh = {"data": 0, "events": 0}
    for i in range(n):
        slot = i % CYCLE
        if slot in REPEAT_SLOTS:  # a panel refresh: two requests back again
            out.append(out[i - 2])
            continue
        kind = "events" if slot in EVENT_SLOTS else "data"
        make = _event_spec if kind == "events" else _data_spec
        out.append(make(rng, span_days, streams, slot in HOSTILE_SLOTS, slot in LONG_SLOTS, fresh[kind]))
        fresh[kind] += 1
    return out
