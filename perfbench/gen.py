"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:
the star-schema and LLM-corpus tables, the ``cube_dashboard`` query pool
and its Zipf-style request decks, and the events batches of the ingest
cycle with their late share. The same seed always yields the same inputs.

A benchmark run reads nothing outside its own checkout, and the sf0.1
fixture files the package's tests and ``bench.py`` use are not part of
it, so the tables are synthesized here with the fixture's schemas and row
counts. Their value distributions are uniform draws, the documents are
word soup with invented duplicate rates and the embeddings are Gaussian
clusters: figures from this benchmark and from ``bench.py`` are not
comparable.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: held-out documents the decontamination stage checks the corpus against
HELDOUT = 200

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
PART_COLORS = ["red", "blue", "green", "hot", "large", "small", "dark", "pale"]
PART_NOUNS = ["bolt", "ring", "nut", "gear", "pin", "rod", "cap", "clip"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window shard index"
).split()

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days
YEARS = list(range(1995, 2002))
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
_US_PER_DAY = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_table(seed: int) -> pa.Table:
    """The events stream in time order: ``EVENT_DAYS`` days from 2024-01-01,
    event ids ascending with time."""
    rng = np.random.default_rng([seed, 7])
    n = SIZES["events"]
    t0 = _us(EVENT_T0)
    us = np.sort(rng.integers(t0, t0 + EVENT_DAYS * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts(us),
            "user_id": rng.integers(0, 1500, n).astype("int64"),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents with duplicates by construction: ~3% exact
    copies (re-cased and re-spaced, so only the normalized fingerprint
    matches), ~10% near copies (a word prepended, a few substituted) and ~6%
    that carry
    a shared boilerplate passage."""
    vocab = np.array(VOCAB)
    boiler = [" ".join(vocab[rng.integers(0, len(vocab), 16)]) for _ in range(6)]
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 20 and kind[i] < 0.03:
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper() if rng.random() < 0.5 else src + " ")
        elif i > 20 and kind[i] < 0.13:
            # a new first word shifts every 8-token span, so span dedup
            # keeps the copy and only near-dup detection can catch it
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join([str(vocab[rng.integers(0, len(vocab))])] + words))
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
            if kind[i] > 0.94:
                pos = int(rng.integers(0, len(words) // 8 + 1)) * 8
                words[pos:pos] = boiler[int(rng.integers(0, len(boiler)))].split()
            texts.append(" ".join(words))
    return texts


def heldout_documents(seed: int, texts: list[str]) -> pa.Table:
    """Held-out set for decontamination: half carry a 12-word passage
    copied from a training document, half are fresh word soup."""
    rng = np.random.default_rng([seed, 11])
    vocab = np.array(VOCAB)
    out = []
    for i in range(HELDOUT):
        if i % 2 == 0:
            words = texts[int(rng.integers(0, len(texts)))].split()
            start = int(rng.integers(0, max(1, len(words) - 12)))
            out.append(" ".join(words[start : start + 12]))
        else:
            out.append(" ".join(vocab[rng.integers(0, len(vocab), 30)]))
    return pa.table({"doc_id": np.arange(HELDOUT, dtype="int64"), "text": out})


def write_tables(seed: int, out_dir: str, events: bool = True) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (sf0.1 schemas);
    ``events=False`` leaves the events table to be landed in batches."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = np.array([f"{c} {p}" for c in PART_COLORS for p in PART_NOUNS])
    _write(out_dir, "part", {
        "p_partkey": np.arange(k, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), k)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, k)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
        "p_size": rng.integers(1, 51, k).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 2),
    })
    k = n["orders"]
    day0 = _us(dt.datetime.combine(ORDER_DAY0, dt.time()))
    odays = rng.integers(0, ORDER_DAYS + 1, k)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], k).astype("int64"),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _ts(day0 + odays * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    okey = rng.integers(0, n["orders"], k)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey.astype("int64"),
        "l_partkey": rng.integers(0, n["part"], k).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
        "l_linenumber": rng.integers(1, 8, k).astype("int32"),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(RETURN_FLAGS)[rng.integers(0, 3, k)],
        "l_linestatus": np.array(LINE_STATUS)[rng.integers(0, 2, k)],
        "l_shipdate": _ts(
            day0 + (odays[okey] + rng.integers(1, 122, k)) * _US_PER_DAY
        ),
    })
    if events:
        pq.write_table(events_table(seed), os.path.join(out_dir, "events.parquet"))
    k = n["documents"]
    drng = np.random.default_rng([seed, 3])
    texts = _documents(drng, k)
    _write(out_dir, "documents", {
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[drng.integers(0, 5, k)],
        "source": np.array([f"src{i}" for i in range(20)])[drng.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    pq.write_table(
        heldout_documents(seed, texts), os.path.join(out_dir, "heldout.parquet")
    )
    k = n["embeddings"]
    erng = np.random.default_rng([seed, 5])
    centers = erng.normal(0.0, 1.0, (10, 64))
    labels = erng.integers(0, 10, k)
    vecs = (centers[labels] + erng.normal(0.0, 0.6, (k, 64))).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })


# --------------------------------------------------------------------------
# cube_dashboard traffic


@dataclass(frozen=True)
class Request:
    """One dashboard call: ``get_members(cube, level)`` when ``level`` is
    set, else ``get_data(cube, drilldowns, measures, cuts)``."""

    cube: str
    drilldowns: tuple[str, ...] = ()
    measures: tuple[str, ...] = ()
    cuts: tuple[tuple[str, object], ...] = ()
    level: str | None = None

    def cut_dict(self) -> dict | None:
        return dict(self.cuts) if self.cuts else None


#: low-cardinality lineitem levels and members the cuts draw from
_LI_LOW = ["Region", "Year", "Segment", "Order Status", "Return Flag",
           "Line Status", "Month", "Brand", "Nation"]
_LI_HIGH = ["Customer", "Part", "Supplier"]
_LI_MEASURES = ["Quantity", "Extended Price", "Revenue", "Charge",
                "Avg Discount", "Line Count", "Order Count"]
_EV_LEVELS = ["Event Type", "Hour", "Day", "User"]
_EV_MEASURES = ["Total Value", "Avg Value", "Event Count", "Users"]
_CUT_MEMBERS = {
    "Region": list(range(len(REGIONS))),  # cuts match a level's member key
    "Year": YEARS,
    "Segment": SEGMENTS,
    "Order Status": ORDER_STATUS,
    "Return Flag": RETURN_FLAGS,
    "Line Status": LINE_STATUS,
    "Brand": [f"Brand#{i}" for i in range(1, 26)],
    "Event Type": EVENT_TYPES,
    "Hour": list(range(24)),
}
_MEMBER_LEVELS = {
    "lineitem": ["Region", "Nation", "Segment", "Brand", "Year", "Customer",
                 "Part", "Supplier"],
    "events": ["Event Type", "Hour", "Day"],
}

#: request class per pool rank, repeated: ``L`` lineitem with low-cardinality
#: drilldowns, ``H`` lineitem ending in Customer/Part/Supplier, ``E`` the
#: events cube, ``M`` a members call. Every third rank from rank 2 is a
#: members call, which puts 5 of a 24-request deck (about 1 in 5, the share
#: the dashboard traffic is specified with) on ``get_members``.
CLASS_PATTERN = "LEMHEM"
#: distinct queries in the dashboard pool; index = popularity rank
POOL_SIZE = 16
#: requests per deck: the requests of a deck come in Zipf proportion
DECK = 24
#: Zipf exponent of the request popularity: the classic Zipf law. No
#: dashboard request log was available to fit it, so it is an assumption.
ZIPF_S = 1.0

#: seed of the pool's request shapes (cube, levels, measures, which levels
#: are cut): the same for every run, so each popularity rank costs about
#: the same whatever ``--seed`` is; the run seed picks the cut members.
#: It is the smallest seed whose 24-request decks have requests with 1, 2
#: and 3 drilldowns, with 0, 1 and 2 cuts, a multi-member cut, at least two
#: count_distinct measures and both Customer and Part drilldowns (the
#: coverage the traffic is specified with);
#: ``test_shape_seed_is_the_smallest_that_covers`` checks it.
SHAPE_SEED = 2


def _pick(rng: np.random.Generator, items: list, k: int) -> list:
    return [items[i] for i in sorted(rng.choice(len(items), k, replace=False))]


def _cuts(shape, members, levels: list[str], avoid: list[str]) -> tuple:
    free = [lv for lv in levels if lv in _CUT_MEMBERS and lv not in avoid]
    out = []
    for lv in _pick(shape, free, min(int(shape.integers(0, 3)), len(free))):
        values = _CUT_MEMBERS[lv]
        if shape.random() < 0.3 and len(values) > 2:
            out.append((lv, tuple(_pick(members, values, 2))))
        else:
            out.append((lv, values[int(members.integers(0, len(values)))]))
    return tuple(out)


def _request(shape, members, cls: str, high: int = 0) -> Request:
    if cls == "M":
        cube = "events" if shape.random() < 0.3 else "lineitem"
        levels = _MEMBER_LEVELS[cube]
        return Request(cube, level=levels[int(shape.integers(0, len(levels)))])
    if cls == "E":
        dds = _pick(shape, _EV_LEVELS, int(shape.integers(1, 4)))
        meas = _pick(shape, _EV_MEASURES, int(shape.integers(1, 3)))
        return Request("events", tuple(dds), tuple(meas),
                       _cuts(shape, members, _EV_LEVELS, dds))
    dds = _pick(shape, _LI_LOW, int(shape.integers(1, 4 if cls == "L" else 3)))
    if cls == "H":  # Customer, Part, Supplier in turn down the ranks
        dds.append(_LI_HIGH[high % len(_LI_HIGH)])
    meas = _pick(shape, _LI_MEASURES, int(shape.integers(1, 4)))
    return Request("lineitem", tuple(dds), tuple(meas),
                   _cuts(shape, members, _LI_LOW, dds))


def query_pool(seed: int) -> list[Request]:
    """``POOL_SIZE`` distinct requests; index = popularity rank."""
    shape = np.random.default_rng(SHAPE_SEED)
    members = np.random.default_rng([seed, 21])
    pool: list[Request] = []
    n_high = 0
    while len(pool) < POOL_SIZE:
        cls = CLASS_PATTERN[len(pool) % len(CLASS_PATTERN)]
        req = _request(shape, members, cls, high=n_high)
        if req not in pool:
            pool.append(req)
            n_high += cls == "H"
    return pool


def zipf_deck(seed: int, round_: int = 0) -> list[int]:
    """``DECK`` pool indexes in Zipf proportion, P(rank r) ∝ 1 / (r + 1)^ZIPF_S,
    in a seeded order: each rank gets its expected count rounded by
    largest remainder, so every run puts the same mix of requests through
    the system and the seed decides the order they arrive in (a draw
    without replacement from a Zipf-shaped urn). ``round_`` numbers
    successive decks of one run."""
    w = 1.0 / np.arange(1, POOL_SIZE + 1) ** ZIPF_S
    quota = DECK * w / w.sum()
    counts = np.floor(quota).astype(int)
    extra = np.argsort(-(quota - counts), kind="stable")[: DECK - counts.sum()]
    counts[extra] += 1
    deck = np.repeat(np.arange(POOL_SIZE), counts)
    rng = np.random.default_rng([seed, 22, round_])
    return [int(i) for i in rng.permutation(deck)]


# --------------------------------------------------------------------------
# events batches for the ingest cycle


@dataclass(frozen=True)
class Batch:
    index: int
    table: pa.Table
    days: tuple[dt.date, ...]  # every day the batch has rows for
    late_rows: int


#: days of events staged before timing; the rest arrive in batches
HISTORY_DAYS = 10
BATCH_ROWS = 1_000
#: range the late share of a batch is drawn from, and how far back late
#: rows go, in days (assumptions: no late-data statistics were available)
LATE_SHARE = (0.05, 0.15)
LATE_DAYS = 3


def ingest_plan(seed: int) -> tuple[pa.Table, list[Batch]]:
    """Split the seeded events stream into a history (the first
    ``HISTORY_DAYS`` days, staged before timing) and batches of
    ``BATCH_ROWS`` consecutive events in time order. In each batch a seeded
    share of rows, drawn from ``LATE_SHARE``, is re-stamped 1 to
    ``LATE_DAYS`` days back, into days that were already refreshed, keeping
    its time of day."""
    events = events_table(seed)
    rng = np.random.default_rng([seed, 31])
    us = events.column("ts").cast(pa.int64()).to_numpy()
    t0 = _us(EVENT_T0)
    cut = int(np.searchsorted(us, t0 + HISTORY_DAYS * _US_PER_DAY))
    history = events.slice(0, cut)
    batches = []
    for i, start in enumerate(range(cut, events.num_rows, BATCH_ROWS)):
        b = events.slice(start, BATCH_ROWS)
        bus = b.column("ts").cast(pa.int64()).to_numpy().copy()
        first_day = int((bus.min() - t0) // _US_PER_DAY)
        late = rng.random(len(bus)) < rng.uniform(*LATE_SHARE)
        if first_day > 0:
            back = rng.integers(1, min(first_day, LATE_DAYS) + 1, len(bus))
            back *= _US_PER_DAY
            bus[late] -= back[late]
        else:
            late[:] = False
        b = b.set_column(b.schema.get_field_index("ts"), "ts", _ts(bus))
        days = sorted({(EVENT_T0 + dt.timedelta(microseconds=int(u - t0))).date()
                       for u in bus})
        batches.append(Batch(i, b, tuple(days), int(late.sum())))
    return history, batches
