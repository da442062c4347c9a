"""Seeded input generators. One ``numpy.random.Generator`` per workload,
built from ``--seed``, produces every input of that workload: tables,
the query stream, the op sequence and the corpus batches. The engine
only ever sees what these functions return.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

EPOCH = datetime(2024, 1, 1)
HOUR = timedelta(hours=1)
DAY = timedelta(days=1)

# the seed chooses the data and the parameters of every op; the SHAPE of
# each workload (sizes, op mix per round) is fixed, so runs on different
# seeds measure the same amount and kind of work
NATIVE_ROWS = 60_000
NATIVE_DAYS = 90
LIVE_DAYS = 4
LIVE_ROWS_PER_DAY = 1_500
CORPUS_DOCS = 400
CORPUS_VECTORS = 2_000
CORPUS_QUERIES = 64
EMBED_DIM = 32
EMBED_CLUSTERS = 16

COUNTRIES = [f"{a}{b}" for a in "abcdefgh" for b in "xyz"]  # 24, sorted
HOSTS = [f"h{i:02d}.ex" for i in range(64)]
EVENT_TYPES = ["click", "view", "buy", "share", "like", "scroll", "hover", "close"]
DEVICES = ["android", "ios", "linux", "mac", "win"]


def zipf_choice(rng: np.random.Generator, values, n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, len(values) + 1) ** s
    idx = rng.choice(len(values), size=n, p=w / w.sum())
    return np.asarray(values, dtype=object)[idx]


def iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


# ------------------------------------------------------ native_query_mix

def events(rng: np.random.Generator, n: int = NATIVE_ROWS, days: int = NATIVE_DAYS) -> pd.DataFrame:
    """Event rows over ``days`` daily buckets. Each day sees a rotating
    window of 8 of the 24 (sorted) countries, so per-segment min/max on
    ``country`` is tight and a country selector prunes whole segments;
    ``user_id`` is high-cardinality (bloom-pruned)."""
    day = rng.integers(0, days, n)
    sec = rng.integers(0, 86_400, n)
    ts = np.datetime64(EPOCH, "s") + (day * 86_400 + sec).astype("timedelta64[s]")
    window = 8
    start = (day * 5) % (len(COUNTRIES) - window + 1)
    offs = zipf_choice(rng, list(range(window)), n).astype(int)
    country = np.asarray(COUNTRIES, dtype=object)[start + offs]
    return pd.DataFrame({
        "__time": ts.astype("datetime64[us]"),
        "host": zipf_choice(rng, HOSTS, n),
        "country": country,
        "event_type": zipf_choice(rng, EVENT_TYPES, n),
        "device": zipf_choice(rng, DEVICES, n),
        "user_id": np.char.add("u", rng.integers(0, n // 3, n).astype(str)).astype(object),
        "value": rng.integers(0, 1_000, n).astype(np.int64),
        "latency": np.round(rng.gamma(2.0, 40.0, n), 3),
    }).sort_values("__time", kind="stable").reset_index(drop=True)


def _interval(rng, days: int) -> tuple[datetime, datetime]:
    """Log-uniform length from one hour to the whole table, hour-aligned."""
    total_h = days * 24
    length_h = int(round(np.exp(rng.uniform(0.0, np.log(total_h)))))
    length_h = max(1, min(total_h, length_h))
    start_h = int(rng.integers(0, total_h - length_h + 1))
    return EPOCH + start_h * HOUR, EPOCH + (start_h + length_h) * HOUR


def _filter(rng, kind: str, ev: pd.DataFrame) -> dict:
    if kind == "country":  # sorted + stats column: prunes segments
        return {"type": "selector", "dimension": "country",
                "value": str(rng.choice(COUNTRIES))}
    if kind == "user":  # bloom column: prunes segments
        return {"type": "selector", "dimension": "user_id",
                "value": str(ev["user_id"].iat[int(rng.integers(0, len(ev)))])}
    if kind == "regex":  # prunes nothing
        return {"type": "regex", "dimension": "host",
                "pattern": f"^h{int(rng.integers(0, 7))}"}
    if kind == "in":
        return {"type": "in", "dimension": "event_type",
                "values": [str(v) for v in rng.choice(EVENT_TYPES, 3, replace=False)]}
    if kind == "bound":
        lo, hi = sorted(rng.choice(len(COUNTRIES), 2, replace=False))
        return {"type": "bound", "dimension": "country", "lower": COUNTRIES[lo],
                "upper": COUNTRIES[hi], "upperStrict": True, "ordering": "lexicographic"}
    if kind == "and_not":
        return {"type": "and", "fields": [
            _filter(rng, "country", ev),
            {"type": "not", "field": {"type": "selector", "dimension": "device",
                                      "value": str(rng.choice(DEVICES))}}]}
    if kind == "or":
        return {"type": "or", "fields": [
            {"type": "selector", "dimension": "event_type", "value": str(rng.choice(EVENT_TYPES))},
            {"type": "selector", "dimension": "device", "value": str(rng.choice(DEVICES))}]}
    raise ValueError(kind)


FILTER_KINDS = ["country", "user", "regex", "in", "bound", "and_not", "or", None]

BASE_AGGS = [
    {"type": "count", "name": "n"},
    {"type": "longSum", "name": "v", "fieldName": "value"},
    {"type": "doubleSum", "name": "lat", "fieldName": "latency"},
]
AVG_POST = {"type": "arithmetic", "name": "avg_v", "fn": "/",
            "fields": [{"type": "fieldAccess", "fieldName": "v"},
                       {"type": "fieldAccess", "fieldName": "n"}]}


class NativeQueries:
    """The native-query stream, one round at a time. A round holds a
    fixed mix: 2 timeseries, 2 topN, 3 groupBy, and one each of scan,
    search, timeBoundary and segmentMetadata; the seed draws every
    parameter. Two groupBys per round carry a ``cardinality``
    aggregator whose field-list key alternates between the two
    spellings the engine documents, ``fieldNames`` and ``fields``."""

    SHAPES = ["timeseries", "topN", "groupBy", "groupBy_card", "timeseries",
              "scan", "topN", "groupBy_card", "search", "timeBoundary",
              "segmentMetadata"]

    def __init__(self, rng: np.random.Generator, ev: pd.DataFrame, data_source: str):
        self.rng = rng
        self.ev = ev
        self.ds = data_source
        self.seen: set[str] = set()
        self._card = int(rng.integers(0, 2))

    def round(self) -> list[dict]:
        return [self._unique(shape) for shape in self.SHAPES]

    def _unique(self, shape: str) -> dict:
        while True:
            q = self._make(shape)
            key = json.dumps(q, sort_keys=True)
            if key not in self.seen:
                self.seen.add(key)
                return q

    def _aggs(self, with_card: bool) -> list[dict]:
        rng = self.rng
        aggs = list(BASE_AGGS)
        # a query counts distinct users once: by hyperUnique or by
        # cardinality, never both
        if not with_card and rng.random() < 0.5:
            aggs.append({"type": "hyperUnique", "name": "uu", "fieldName": "user_id"})
        if with_card:
            key = ("fieldNames", "fields")[self._card % 2]
            self._card += 1
            aggs.append({"type": "cardinality", "name": "card", key: ["user_id"]})
        if rng.random() < 0.5:
            aggs.append({"type": "filtered",
                         "filter": {"type": "selector", "dimension": "event_type",
                                    "value": str(rng.choice(EVENT_TYPES))},
                         "aggregator": {"type": "count", "name": "n_f"}})
        return aggs

    def _make(self, shape: str) -> dict:
        rng = self.rng
        start, end = _interval(rng, NATIVE_DAYS)
        span_h = (end - start) / HOUR
        q: dict = {"dataSource": self.ds, "intervals": [f"{iso(start)}/{iso(end)}"]}
        fkind = FILTER_KINDS[int(rng.integers(0, len(FILTER_KINDS)))]
        if fkind is not None:
            q["filter"] = _filter(rng, fkind, self.ev)
        if shape == "timeseries":
            grans = ["all", "week"] + (["day"] if span_h <= 60 * 24 else []) \
                + (["hour"] if span_h <= 72 else [])
            q.update(queryType="timeseries", granularity=str(rng.choice(grans)),
                     aggregations=self._aggs(False), postAggregations=[AVG_POST])
        elif shape == "topN":
            grans = ["all"] + (["day"] if span_h <= 7 * 24 else [])
            q.update(queryType="topN", granularity=str(rng.choice(grans)),
                     dimension=str(rng.choice(["host", "event_type", "country"])),
                     metric="v", threshold=int(rng.integers(3, 11)),
                     aggregations=self._aggs(False))
        elif shape in ("groupBy", "groupBy_card"):
            dims = sorted(rng.choice(["country", "device", "event_type"],
                                     int(rng.integers(1, 3)), replace=False).tolist())
            if span_h <= 1:
                grans = ["none", "hour"]
            else:
                grans = ["all", "week"] + (["day"] if span_h <= 21 * 24 else [])
            q.update(queryType="groupBy", granularity=str(rng.choice(grans)),
                     dimensions=dims, aggregations=self._aggs(shape == "groupBy_card"),
                     postAggregations=[AVG_POST])
        elif shape == "scan":
            q.update(queryType="scan", dimensions=["host", "country", "device"],
                     limit=int(rng.integers(20, 200)))
        elif shape == "search":
            q.update(queryType="search", searchDimensions=["host"],
                     query={"type": "insensitive_contains",
                            "value": f"H{int(rng.integers(0, 7))}"})
        elif shape == "timeBoundary":
            q.update(queryType="timeBoundary")
        elif shape == "segmentMetadata":
            q.pop("filter", None)
            q.update(queryType="segmentMetadata")
        else:
            raise ValueError(shape)
        return q


# ------------------------------------------------------------ live_table

def live_rows(rng: np.random.Generator, day: int, n: int, first_id: int) -> pd.DataFrame:
    sec = np.sort(rng.integers(0, 86_400, n))
    ts = np.datetime64(EPOCH + day * DAY, "s") + sec.astype("timedelta64[s]")
    return pd.DataFrame({
        "__time": ts.astype("datetime64[us]"),
        "row_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "country": zipf_choice(rng, COUNTRIES[:10], n),
        "device": zipf_choice(rng, DEVICES, n),
        "value": rng.integers(0, 1_000, n).astype(np.int64),
    })


DASH_AGGS = [{"type": "count", "name": "n"},
             {"type": "longSum", "name": "v", "fieldName": "value"}]


def dashboard_templates(ds: str, newest_day: int) -> list[dict]:
    """The dashboard's queries, most popular first; windows end at the
    end of the newest day of data. The groupBy is covered by the
    materialized rollup; the timeseries and topN are not."""
    end = EPOCH + (newest_day + 1) * DAY
    last = f"{iso(end - DAY)}/{iso(end)}"
    week = f"{iso(end - 7 * DAY)}/{iso(end)}"
    return [
        {"queryType": "groupBy", "dataSource": ds, "intervals": [week], "granularity": "day",
         "dimensions": ["country"], "aggregations": DASH_AGGS},
        {"queryType": "timeseries", "dataSource": ds, "intervals": [week], "granularity": "day",
         "aggregations": DASH_AGGS},
        {"queryType": "topN", "dataSource": ds, "intervals": [last], "granularity": "all",
         "dimension": "country", "metric": "v", "threshold": 5, "aggregations": DASH_AGGS},
        {"queryType": "timeseries", "dataSource": ds, "intervals": [last], "granularity": "hour",
         "aggregations": DASH_AGGS},
    ]


N_TEMPLATES = 4


class LiveOps:
    """The live-table op sequence. A period is four cycles, one per write
    kind in a fixed order: append the next day, then a merge, an update
    and a delete. Each write is followed by the change-feed read, and the
    append by ``maintain_table`` (as an operator runs it after ingest;
    its catch-up lets the rollup answer reads). Then come the cycle's
    dashboard reads over two of the templates, rotating so every
    template is read in two cycles of a period: each of the two misses
    the result cache once (the write changed the timeline) and is then
    read again from the cache, the more popular one more often.

    The seed draws the order of the reads and every parameter of the
    writes; the counts are fixed, so every seed times the same number of
    misses and hits of each template and the same writes."""

    # hits of the cycle's more and less popular template
    HITS = (6, 4)
    WRITES = ["append", "merge", "update", "delete"]
    CYCLES = len(WRITES)

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self._n = 0

    def next_write(self) -> str:
        kind = self.WRITES[self._n % self.CYCLES]
        self._n += 1
        return kind

    def reads(self) -> list[int]:
        """Template indices of the reads after the latest write."""
        c = (self._n - 1) % self.CYCLES
        a, b = sorted((c % N_TEMPLATES, (c + 1) % N_TEMPLATES))
        first = [a, b]
        rest = [a] * self.HITS[0] + [b] * self.HITS[1]
        return first + [int(i) for i in self.rng.permutation(rest)]


# ------------------------------------------------------- corpus_pipeline

class Corpus:
    """Document batches with planted duplicates, plus clustered
    embeddings. Each batch: a Zipf-vocabulary base set, ~5% exact copies
    and ~5% near-duplicates made by substituting words; the true 3-word
    shingle Jaccard of every planted near-duplicate pair is recorded."""

    VOCAB = 4_000

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = np.asarray([f"w{i}" for i in range(self.VOCAB)], dtype=object)
        w = 1.0 / np.arange(1, self.VOCAB + 1) ** 1.05
        self.p = w / w.sum()
        self.centers = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
        self._next_id = 0

    def _doc(self) -> list[str]:
        return list(self.rng.choice(self.vocab, int(self.rng.integers(40, 90)), p=self.p))

    def batch(self, n: int = CORPUS_DOCS) -> tuple[pd.DataFrame, list[tuple[int, int, float]]]:
        rng = self.rng
        n_exact = n // 20
        n_near = n // 20
        base = [self._doc() for _ in range(n - n_exact - n_near)]
        docs = list(base)
        for i in rng.choice(len(base), n_exact, replace=False):
            docs.append(list(base[int(i)]))
        near_src = rng.choice(len(base), n_near, replace=False)
        planted = []
        for i in near_src:
            src = base[int(i)]
            d = list(src)
            # a few substitutions keep 3-shingle Jaccard roughly 0.55-0.9
            for j in rng.choice(len(d), int(rng.integers(1, 4)), replace=False):
                d[int(j)] = str(rng.choice(self.vocab))
            planted.append((int(i), len(docs), shingle_jaccard(src, d)))
            docs.append(d)
        ids = np.arange(self._next_id, self._next_id + len(docs), dtype=np.int64)
        self._next_id += len(docs)
        df = pd.DataFrame({"doc_id": ids, "text": [" ".join(d) for d in docs]})
        pairs = [(int(ids[a]), int(ids[b]), j) for a, b, j in planted]
        return df, pairs

    def vectors(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        self._next_id += n
        # equal-size clusters: cell sizes, and so IVF work per query, do
        # not hinge on how the seed happened to split the points
        c = self.rng.permutation(np.arange(n) % EMBED_CLUSTERS)
        v = self.centers[c] + 0.35 * self.rng.normal(size=(n, EMBED_DIM))
        return ids, v

    def query_terms(self) -> list[str]:
        # mid-frequency terms (ranks 50-150): each in a fair share of the
        # documents, and similar in cost from query to query
        return [str(t) for t in self.rng.choice(self.vocab[50:150], 3, replace=False)]


def shingles(words: list[str], n: int = 3) -> set[str]:
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def shingle_jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def vectors_frame(ids: np.ndarray, vecs: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]})
