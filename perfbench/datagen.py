"""Seeded input generators for the benchmark workloads.

``write_tables`` writes the ten TPC-H-ish parquet tables the query
registry reads (same names, columns and types as the testdata the
oracle gate runs on). ``IotSeeds`` writes the three sensor-pipeline
seed CSVs ``sources.load_seeds`` reads, as a base batch plus
increments, and knows the invariants the medallion pipeline must
reproduce. The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = "blue old small new hot large cold red".split()
_NOUN = "widget gizmo bolt plate anvil rod ring gear".split()
_EMB_DIM = 64


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype(
        "timedelta64[D]"
    )


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(_WORDS[w] for w in words[at : at + k]))
        at += k
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten query tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    span_us = 30 * 86_400 * 1_000_000
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 5% of documents are an earlier-drawn document plus a " dup" suffix:
    # the near-duplicate pairs the dedup/curation operators exist to find
    texts = _text(rng, n_doc)
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    doc_ids = np.arange(n_doc, dtype=np.int64)
    _write(out_dir, "documents", {
        "doc_id": doc_ids,
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, _EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), _EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


# --- IoT sensor seeds -------------------------------------------------------

_METRICS = ("temperature", "vibration", "humidity", "pressure")
# (low, high) of normal readings; the hot device adds +12 / +3 on top
_RANGES = {
    "temperature": (60.0, 84.0),
    "vibration": (2.0, 8.5),
    "humidity": (20.0, 60.0),
    "pressure": (1000.0, 1020.0),
}
# Thresholds of config.Thresholds: metric -> (lower or None, upper)
_LIMITS = {
    "temperature": (10.0, 85.0),
    "vibration": (None, 9.0),
    "humidity": (15.0, 90.0),
    "pressure": (950.0, 1050.0),
}
_TS_FMT = "%Y-%m-%d %H:%M:%S"
_BASE_TS = dt.datetime(2025, 1, 15, 0, 0, 0)


class IotSeeds:
    """The sensor-pipeline seeds: ``n_devices`` devices, a base batch of
    ``base_readings`` and ``len(increments)`` later batches, each
    holding new readings plus re-ingested earlier ``reading_id``s with a
    later ``ingested_at`` (so the incremental merge updates rows).

    Dirty-data properties of the reference seeds are kept: ~1% NULL
    ``metric_value``, content duplicates under distinct ids, one device
    (``DEV004``) reading above its upper thresholds, and alerts that all
    point at known devices.
    """

    def __init__(self, seed: int, n_devices: int, base_readings: int,
                 increments: tuple[int, ...], reingest_share: float = 0.05):
        rng = np.random.default_rng(seed)
        self.n_devices = n_devices
        self.readings: list[pd.DataFrame] = []
        self.alerts: list[pd.DataFrame] = []
        # (rows, anomalies) of int_sensor_readings_cleaned after each batch
        self.expected: list[tuple[int, int]] = []
        # per reading_id (index id - 1): device, metric and latest value
        dev = np.empty(0, np.int64)
        met = np.empty(0, np.int64)
        val = np.empty(0, np.float64)
        next_alert = 1
        for b, size in enumerate((base_readings, *increments)):
            n_again = 0 if b == 0 else int(size * reingest_share)
            n_new = size - n_again
            n_dup = max(1, n_new // 200)
            first = len(dev)
            t0 = _BASE_TS + dt.timedelta(hours=b)
            span_s = 86_400 if b == 0 else 3_600
            # new readings, then content duplicates of some of them
            d = rng.integers(0, n_devices, n_new)
            m = rng.integers(0, 4, n_new)
            v = self._values(rng, d, m)
            v[rng.random(n_new) < 0.01] = np.nan
            ts = _seconds(t0, rng.integers(0, span_s, n_new))
            delay = rng.integers(0, 60, n_new)
            k = rng.choice(n_new, n_dup, replace=False)
            ids = np.arange(first + 1, first + n_new + n_dup + 1)
            d, m, v = np.r_[d, d[k]], np.r_[m, m[k]], np.r_[v, v[k]]
            ts, delay = np.r_[ts, ts[k]], np.r_[delay, np.full(n_dup, 60)]
            dev, met, val = np.r_[dev, d], np.r_[met, m], np.r_[val, v]
            # re-ingested earlier ids: a new value, a later ingest time
            again = rng.choice(first, min(n_again, first), replace=False) + 1
            v2 = self._values(rng, dev[again - 1], met[again - 1])
            val[again - 1] = v2
            ids = np.r_[ids, again]
            d, m, v = np.r_[d, dev[again - 1]], np.r_[m, met[again - 1]], np.r_[v, v2]
            ts = np.r_[ts, _seconds(_BASE_TS, rng.integers(0, 86_400, len(again)))]
            delay = np.r_[delay, rng.integers(60, 120, len(again))]
            ingest0 = _BASE_TS + dt.timedelta(days=1, hours=b)
            self.readings.append(pd.DataFrame({
                "reading_id": [f"R{i:07d}" for i in ids],
                "device_id": [f"DEV{x + 1:03d}" for x in d],
                "metric_name": np.array(_METRICS)[m],
                "metric_value": v,
                "reading_ts": ts,
                "ingested_at": _seconds(ingest0, delay),
            }))
            self.expected.append((len(val), self._anomalies(met, val)))
            n_alerts = max(4, size // 500)
            self.alerts.append(self._alert_frame(rng, b, next_alert, n_alerts))
            next_alert += n_alerts

    @staticmethod
    def frozen_now(batch: int) -> dt.datetime:
        """The pipeline clock for the run that ingests ``batch``; it
        advances per batch so incremental watermark filters on the
        processing time admit the new rows."""
        return dt.datetime(2025, 1, 16, 12, 0, 0) + dt.timedelta(hours=batch)

    @staticmethod
    def _values(rng, dev: np.ndarray, met: np.ndarray) -> np.ndarray:
        lo = np.array([_RANGES[x][0] for x in _METRICS])[met]
        hi = np.array([_RANGES[x][1] for x in _METRICS])[met]
        hot = np.where(dev == 3, np.array([12.0, 3.0, 0.0, 0.0])[met], 0.0)
        return np.round(rng.uniform(lo, hi) + hot, 1)

    @staticmethod
    def _anomalies(met: np.ndarray, val: np.ndarray) -> int:
        lo = np.array([_LIMITS[x][0] or -np.inf for x in _METRICS])[met]
        hi = np.array([_LIMITS[x][1] for x in _METRICS])[met]
        with np.errstate(invalid="ignore"):
            return int(np.sum((val > hi) | (val < lo)))

    def _alert_frame(self, rng, batch: int, first: int, n: int) -> pd.DataFrame:
        kind = rng.choice(
            ["threshold_breach", "data_quality", "equipment_fault", "maintenance_due"],
            n, p=[0.8, 0.08, 0.07, 0.05],
        )
        maint = kind == "maintenance_due"
        m = rng.integers(0, 4, n)
        threshold = np.array([_LIMITS[x][1] for x in _METRICS])[m]
        actual = np.round(threshold + rng.uniform(0.1, 5.0, n), 1)
        ts = _seconds(_BASE_TS + dt.timedelta(hours=2 * batch),
                      rng.integers(1, 3_600, n))
        resolved = ts + pd.to_timedelta(rng.integers(5, 240, n), unit="min")
        done = rng.random(n) < 0.25
        return pd.DataFrame({
            "alert_id": [f"ALT{i:06d}" for i in range(first, first + n)],
            "device_id": [f"DEV{x + 1:03d}" for x in rng.integers(0, self.n_devices, n)],
            "alert_type": kind,
            "severity": rng.choice(["info", "warning", "critical"], n),
            "metric_name": np.where(maint, None, np.array(_METRICS, object)[m]),
            "threshold_value": np.where(maint, np.nan, threshold),
            "actual_value": np.where(maint, np.nan, actual),
            "alert_ts": ts,
            "resolved_at": resolved.where(done),
            "resolution_notes": np.where(done, "auto-resolved", None),
        })

    def _devices(self) -> pd.DataFrame:
        i = np.arange(self.n_devices)
        types = np.array(["compressor", "motor", "pump", "furnace", "assembly_robot",
                          "conveyor", "welder", "cnc_machine", "boiler", "packaging"])
        return pd.DataFrame({
            "device_id": [f"DEV{x + 1:03d}" for x in i],
            "device_name": [f"Device {x + 1}" for x in i],
            "device_type": types[i % 10],
            "location": np.array(["Plant-Detroit", "Plant-Chicago", "Plant-Austin"])[i % 3],
            "zone": np.array(["Zone-A", "Zone-B", "Zone-C"])[i % 3],
            "install_date": [f"{2021 + x % 4}-0{1 + x % 9}-15" for x in i],
            "manufacturer": [f"Maker{x % 7}" for x in i],
            "firmware_version": [f"v2.{x % 5}.{x % 9}" for x in i],
            "is_active": "true",
        })

    def write(self, root: str) -> list[tuple[str, int]]:
        """Write one seeds directory per batch, ``root/batch_<k>``, each
        holding the cumulative CSVs of batches 0..k. Returns
        ``(dir, new_bytes)`` per batch: the CSV bytes that batch added."""
        devices = self._devices().to_csv(index=False)
        readings = alerts = ""
        out, prev = [], 0
        for k, (r, a) in enumerate(zip(self.readings, self.alerts)):
            readings += r.to_csv(index=False, header=k == 0, date_format=_TS_FMT)
            alerts += a.to_csv(index=False, header=k == 0, date_format=_TS_FMT)
            d = os.path.join(root, f"batch_{k}")
            os.makedirs(d, exist_ok=True)
            for name, text in (("raw_sensor_readings", readings),
                               ("raw_devices", devices), ("raw_alerts", alerts)):
                with open(os.path.join(d, f"{name}.csv"), "w") as fh:
                    fh.write(text)
            total = len(readings) + len(devices) + len(alerts)
            out.append((d, total - prev))
            prev = total
        return out


def _seconds(t0: dt.datetime, offsets: np.ndarray) -> pd.DatetimeIndex:
    return pd.Timestamp(t0) + pd.to_timedelta(offsets, unit="s")
