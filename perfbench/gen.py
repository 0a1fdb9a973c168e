"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``PCG64``). The
feed generator builds the plain-Python model of the result the program
must produce while it generates: a keep-latest map per key and the
expected audit status and count of every load (the catalog's results
are checked against DuckDB instead). The program under test only ever
sees the generated pages and tables.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, index) so that drawing
    more of one input never shifts another."""
    return np.random.Generator(np.random.PCG64([seed, *stream]))


# --------------------------------------------------------------------
# feed_etl: GA-session pages for run_feed("ga_sessions")
# --------------------------------------------------------------------

CHANNELS = ["Organic Search", "Direct", "Referral", "Paid Search", "Social", "Display"]
BROWSERS = ["Chrome", "Safari", "Firefox", "Edge", "Opera"]
CATEGORIES = ["desktop", "mobile", "tablet"]
COUNTRIES = ["Germany", "United States", "India", "Brazil", "Japan", "France", "Kenya"]
CITIES = ["Berlin", "Austin", "Pune", "Recife", "Osaka", "Lyon", "Nairobi", "(not set)"]

# Load kinds. Loads come in same-day pairs (the DAG's 06:00 / 18:00
# runs). Every cycle of two days (four loads) holds one load with
# key-duplicates and one that omits ``channelGrouping``, always at the
# same positions, so any whole number of cycles has the same mix in the
# same order; the seed moves the records, not the mix.
CLEAN, DUPS, NO_CHANNEL = "clean", "dups", "no_channel"
CYCLE_KINDS = (CLEAN, DUPS, NO_CHANNEL, CLEAN)
DUP_SHARE = 0.01  # share of a DUPS load's keys served twice
WARMUP_ROWS = 1_000


@dataclass
class FeedLoad:
    index: int
    load_date: dt.date
    kind: str
    records: list[dict]
    expected_status: str  # "SUCCESS" or "FAILED"
    expected_count: int  # audited record count
    # key -> allowed totals.hits values (two when the key was served
    # twice with different payloads: dedup keeps an arbitrary one)
    hits: dict[tuple[str, str], tuple[int, ...]]


def _visit_id(day: int, j: int) -> str:
    # numeric-looking string ids, unique per (day, j)
    return str(1_500_000_000 + day * 100_000 + j)


def _sessions(rng: np.random.Generator, vids: list[str], hits: np.ndarray) -> dict[str, list]:
    """Flattened columns of GA sessions (``json_normalize`` names)."""
    n = len(vids)

    def pick(values: list) -> list:
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist()

    return {
        "visitId": list(vids),
        "visitStartTime": rng.integers(1_600_000_000, 1_700_000_000, n).tolist(),
        "channelGrouping": pick(CHANNELS),
        "device_browser": pick(BROWSERS),
        "device_deviceCategory": pick(CATEGORIES),
        "device_isMobile": pick([False, True]),
        "geoNetwork_country": pick(COUNTRIES),
        "geoNetwork_city": pick(CITIES),
        "totals_hits": [int(h) for h in hits],
        "totals_pageviews": rng.integers(1, 40, n).tolist(),
    }


def _records(cols: dict[str, list], channel: bool) -> list[dict]:
    """Nested API records from flattened columns."""
    out = []
    for i in range(len(cols["visitId"])):
        rec = {
            "visitId": cols["visitId"][i],
            "visitStartTime": cols["visitStartTime"][i],
            "device": {"browser": cols["device_browser"][i],
                       "deviceCategory": cols["device_deviceCategory"][i],
                       "isMobile": cols["device_isMobile"][i]},
            "geoNetwork": {"country": cols["geoNetwork_country"][i],
                           "city": cols["geoNetwork_city"][i]},
            "totals": {"hits": cols["totals_hits"][i], "pageviews": cols["totals_pageviews"][i]},
        }
        if channel:
            rec["channelGrouping"] = cols["channelGrouping"][i]
        out.append(rec)
    return out


class FeedGen:
    """GA-session loads for ``run_feed(feed_config("ga_sessions"))``.

    Day ``d`` serves a morning load of ``rows`` fresh visitIds and an
    evening load that re-serves half of the morning's visitIds with
    new ``hits`` plus as many fresh ones. Days ``0 .. prior_days-1``
    form the pre-seeded target, the next day holds the small warm-up
    loads, and measured loads follow in cycles of two days."""

    def __init__(self, seed: int, rows: int = 10_000, prior_days: int = 3,
                 base_date: dt.date = dt.date(2024, 1, 1)) -> None:
        self.seed = seed
        self.rows = rows
        self.prior_days = prior_days
        self.base_date = base_date

    def _kind(self, day: int, slot: int) -> str:
        if day <= self.prior_days:  # prior days; warm-up loads pass their kind
            return CLEAN
        return CYCLE_KINDS[((day - self.prior_days - 1) % 2) * 2 + slot]

    def columns(self, day: int, slot: int, kind: str | None = None,
                rows: int | None = None) -> tuple[dict[str, list], str]:
        """Flattened columns served on ``day`` at ``slot`` (0 = morning,
        1 = evening), duplicates included, and the load kind."""
        n = rows or self.rows
        half = n // 2
        rng = _rng(self.seed, 2, day, slot)
        if slot == 0:
            vids = [_visit_id(day, j) for j in range(n)]
        else:
            again = np.sort(_rng(self.seed, 3, day).choice(n, half, replace=False))
            vids = [_visit_id(day, int(j)) for j in again]
            vids += [_visit_id(day, n + j) for j in range(n - half)]
        cols = _sessions(rng, vids, rng.integers(1, 500, size=len(vids)))
        kind = kind or self._kind(day, slot)
        if kind == DUPS:
            k = max(1, int(n * DUP_SHARE))
            dup = rng.choice(len(vids), k, replace=False)
            alt = np.asarray(cols["totals_hits"])[dup] + rng.integers(1, 100, k)
            extra = _sessions(rng, [vids[j] for j in dup], alt)
            order = rng.permutation(len(vids) + k)
            cols = {c: [v[i] for i in order] for c, v in ((c, v + extra[c]) for c, v in cols.items())}
        return cols, kind

    def load(self, day: int, slot: int, kind: str | None = None, rows: int | None = None) -> FeedLoad:
        cols, kind = self.columns(day, slot, kind, rows)
        date = self.base_date + dt.timedelta(days=day)
        records = _records(cols, channel=kind != NO_CHANNEL)
        if kind == NO_CHANNEL:
            return FeedLoad(day * 2 + slot, date, kind, records, "FAILED", 0, {})
        model: dict[tuple[str, str], tuple[int, ...]] = {}
        source = date.isoformat()
        for v, h in zip(cols["visitId"], cols["totals_hits"]):
            model[(v, source)] = model.get((v, source), ()) + (h,)
        return FeedLoad(day * 2 + slot, date, kind, records, "SUCCESS", len(model), model)

    def prior_frame(self, model: dict):
        """The target as the ``prior_days`` clean days left it (pandas,
        flattened names plus load metadata); fills ``model``."""
        import pandas as pd

        frames = []
        for day in range(self.prior_days):
            date = self.base_date + dt.timedelta(days=day)
            for slot in (0, 1):
                pdf = pd.DataFrame(self.columns(day, slot)[0])
                pdf["load_timestamp"] = pd.Timestamp(date)
                pdf["source_file"] = date.isoformat()
                frames.append(pdf)
                model.update({(v, date.isoformat()): (int(h),)
                              for v, h in zip(pdf.visitId, pdf.totals_hits)})
        return pd.concat(frames).drop_duplicates(["visitId", "source_file"], keep="last")

    def warmup_loads(self) -> list[FeedLoad]:
        """A small load on the warm-up day, which pays the cold start,
        then cycle 0 at full size, so the measured cycles (from 1)
        start on code warmed at their own size for every branch."""
        return [self.load(self.prior_days, 0, DUPS, WARMUP_ROWS), *self.cycle_loads(0)]

    def cycle_loads(self, cycle: int) -> list[FeedLoad]:
        first = self.prior_days + 1 + 2 * cycle
        return [self.load(d, s) for d in (first, first + 1) for s in (0, 1)]


def paged_server(records: list[dict], page_size: int = 500):
    """In-process fake ``http_get``: ``records`` in pages of
    ``page_size`` under the ``records`` envelope, ``hasMore`` on every
    page but the last. Returns (http_get, stats) where ``stats``
    counts the pages served."""
    n_pages = max(1, -(-len(records) // page_size))
    stats = {"pages": 0}

    def http_get(url: str):
        page = int(url.rsplit("=", 1)[1])
        stats["pages"] += 1
        if page > n_pages:
            return 200, {"records": []}
        chunk = records[(page - 1) * page_size: page * page_size]
        return 200, {"records": chunk, "hasMore": page < n_pages}

    return http_get, stats


# --------------------------------------------------------------------
# catalog_mix: the TPC-H-like star schema + events/documents/embeddings
# --------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_T0_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_MONTH_US = 30 * 86_400 * 1_000_000


WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _days(rng, lo: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(lo.isoformat(), "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's input tables at scale factor ``sf`` (the layout
    and value domains of the tables in ``TESTDATA.md``)."""
    r = lambda k: _rng(seed, 20, k)  # noqa: E731
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    users = max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    g = r(1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[g.integers(0, 5, n_cust)],
    })
    g = r(2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(g, -999.99, 9999.99, n_supp),
    })
    g = r(3)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.asarray(names, dtype=object)[g.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": np.asarray(P_TYPES, dtype=object)[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    g = r(4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[g.integers(0, 3, n_ord)],
        "o_totalprice": _cents(g, 1000, 500_000, n_ord),
        "o_orderdate": _days(g, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[g.integers(0, 5, n_ord)],
    })
    g = r(5)
    per_order = np.clip(g.poisson(4, n_ord), 1, 7)
    okeys = np.repeat(np.arange(n_ord), per_order)
    lines = np.concatenate([np.arange(1, k + 1) for k in per_order])
    n_li = len(okeys)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lines, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(g, 900, 105_000, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"], dtype=object)[g.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(["F", "O"], dtype=object)[g.integers(0, 2, n_li)],
        "l_shipdate": _days(g, dt.date(1995, 1, 2), 2499, n_li),
    })
    g = r(6)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(_T0_US + g.integers(0, _MONTH_US, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, users, n_ev), pa.int64()),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    g = r(7)
    texts: list[str] = []
    for i in range(n_doc):
        roll = g.random()
        if i > 10 and roll < 0.10:  # near-duplicate of an earlier doc
            words = texts[int(g.integers(0, i))].split()
            for j in g.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[g.integers(len(WORDS))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and roll < 0.11:  # exact duplicate
            texts.append(texts[int(g.integers(0, i))])
        else:
            texts.append(" ".join(np.asarray(WORDS)[g.integers(0, len(WORDS), int(g.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[g.integers(0, len(LANGS), n_doc)],
        "source": [f"src{k}" for k in np.arange(n_doc) % 20],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    g = r(8)
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vec = centers[labels] * 0.5 + g.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_catalog(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
