"""Seeded input generator for the benchmark.

Everything the program under test sees is produced here from the seed:
Coinbase ticker payloads in the wire shape ``parse_tickers`` reads
(``type``, ``product_id``, price as a string, ISO ``time``), written as
JSON-lines files. Product frequency is Zipf-distributed and a fixed
share of ticks is late: its event time falls into a candle that was
already written. Event times are the seed's epoch plus the schedule
offset, so every run with one seed buckets its ticks the same way. The
wall-clock time at which an event is due exists only in the ledger the
benchmark keeps; it is never part of the payload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

PRODUCTS = (
    "BTC-USD", "ETH-USD", "SOL-USD", "XRP-USD", "DOGE-USD", "ADA-USD",
    "AVAX-USD", "LINK-USD", "DOT-USD", "LTC-USD", "BCH-USD", "UNI-USD",
    "ATOM-USD", "XLM-USD", "ETC-USD", "FIL-USD", "APT-USD", "NEAR-USD",
    "ARB-USD", "OP-USD",
)
ZIPF_S = 1.1
LATE_SHARE = 0.02
BASE_EPOCH_S = 1_704_067_200          # 2024-01-01T00:00:00Z
DAY_S = 86_400


def seed_epoch_s(seed: int) -> int:
    """The seed's epoch: a whole day, so bucket boundaries never depend
    on anything but the schedule offsets."""
    return BASE_EPOCH_S + (seed % 3650) * DAY_S


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


@dataclass
class Ticks:
    """Columnar ticks: product index, event time (epoch µs), price."""
    product: np.ndarray
    time_us: np.ndarray
    price: np.ndarray

    def __len__(self) -> int:
        return len(self.time_us)


def payload(product: str, iso_time: str, price: float) -> str:
    # product ids and ISO times need no JSON escaping
    return (f'{{"type":"ticker","product_id":"{product}",'
            f'"price":"{price:.2f}","time":"{iso_time}"}}')


def _prices(rng: np.random.Generator, product: np.ndarray,
            n_products: int) -> np.ndarray:
    """Independent random walks per product, rounded to cents (the
    wire format), starting from a per-product level."""
    level = 10.0 * np.exp(rng.uniform(0.0, 8.0, n_products))
    steps = rng.normal(0.0, 4e-4, len(product))
    out = np.empty(len(product))
    for p in range(n_products):
        idx = np.flatnonzero(product == p)
        out[idx] = level[p] * np.exp(np.cumsum(steps[idx]))
    return np.round(np.maximum(out, 0.01), 2)


def history_ticks(seed: int, n_products: int, span_s: int,
                  ticks_per_s: float) -> Ticks:
    """Ticks over [epoch - span_s, epoch), strictly increasing times."""
    rng = np.random.default_rng([seed, 1, n_products, span_s])
    n = int(span_s * ticks_per_s)
    start_us = (seed_epoch_s(seed) - span_s) * 1_000_000
    product = rng.choice(n_products, n, p=zipf_weights(n_products))
    offs = rng.integers(0, span_s * 1_000_000, n)
    # unique, sorted event times: ties would make open/close ambiguous
    offs, first = np.unique(offs, return_index=True)
    product = product[first]
    return Ticks(product=product, time_us=start_us + offs,
                 price=_prices(rng, product, n_products))


def candles(seed: int, n_products: int, span_s: int, step_s: int = 300,
            ticks_per_s: float = 1.0) -> dict[str, np.ndarray]:
    """Gap-free OHLC candles of `step_s` seconds over [epoch - span_s,
    epoch) for every product, in the columns ``candle_resample`` writes
    (``product`` is an index into PRODUCTS, ``start_s`` epoch seconds).
    Closes follow a random walk per product, each open is the previous
    close, and ``n_ticks`` is 1 plus a Poisson draw at the product's
    Zipf share of `ticks_per_s`."""
    rng = np.random.default_rng([seed, 3, n_products, span_s])
    n = span_s // step_s
    level = 10.0 * np.exp(rng.uniform(0.0, 8.0, (n_products, 1)))
    close = level * np.exp(np.cumsum(
        rng.normal(0.0, 2e-3, (n_products, n)), axis=1))
    open_ = np.round(np.hstack([level, close[:, :-1]]), 2)
    close = np.round(close, 2)
    wick = np.abs(rng.normal(0.0, 1e-3, (2, n_products, n)))
    top, bottom = np.maximum(open_, close), np.minimum(open_, close)
    high = np.maximum(top, np.round(top * (1.0 + wick[0]), 2))
    low = np.maximum(np.minimum(bottom, np.round(bottom * (1.0 - wick[1]),
                                                 2)), 0.01)
    lam = ticks_per_s * step_s * zipf_weights(n_products)
    n_ticks = 1 + rng.poisson(np.repeat(lam[:, None], n, axis=1))
    start = seed_epoch_s(seed) - span_s
    return {
        "product": np.repeat(np.arange(n_products), n),
        "start_s": np.tile(start + step_s * np.arange(n, dtype=np.int64),
                           n_products),
        "open": open_.ravel(), "high": high.ravel(), "low": low.ravel(),
        "close": close.ravel(), "n_ticks": n_ticks.ravel(),
    }


@dataclass
class Schedule:
    """Open-loop ingest schedule: file k holds the events due in
    [k, k + 1) file intervals after the start and lands at the end of
    that slot."""
    ticks: Ticks
    due_s: np.ndarray          # per event, seconds after the start
    file_of: np.ndarray        # per event, index of its file
    n_files: int


def live_schedule(seed: int, n_products: int, rate: float,
                  duration_s: float, file_interval_s: float) -> Schedule:
    """Events at a fixed offered rate; event time = epoch + due offset,
    except a LATE_SHARE of events whose time is pushed 5-60 minutes
    back, into candles written before they arrive."""
    rng = np.random.default_rng([seed, 2, n_products, int(rate)])
    n = int(rate * duration_s)
    due_s = np.arange(n) / rate
    product = rng.choice(n_products, n, p=zipf_weights(n_products))
    time_us = (seed_epoch_s(seed) * 1_000_000
               + np.round(due_s * 1_000_000).astype(np.int64))
    late = rng.random(n) < LATE_SHARE
    time_us[late] -= rng.integers(300, 3600, late.sum()) * 1_000_000
    # a late tick must not collide with an on-time one (or another)
    _, first = np.unique(time_us, return_index=True)
    keep = np.zeros(n, dtype=bool)
    keep[first] = True
    due_s, product, time_us = due_s[keep], product[keep], time_us[keep]
    file_of = (due_s // file_interval_s).astype(np.int64)
    ticks = Ticks(product=product, time_us=time_us,
                  price=_prices(rng, product, n_products))
    return Schedule(ticks=ticks, due_s=due_s, file_of=file_of,
                    n_files=int(file_of.max()) + 1 if n else 0)


def lines(ticks: Ticks, idx=None) -> list[str]:
    idx = np.arange(len(ticks)) if idx is None else idx
    iso = np.datetime_as_string(
        ticks.time_us[idx].astype("datetime64[us]"), unit="us")
    return [payload(PRODUCTS[p], t + "Z", x) for p, t, x in
            zip(ticks.product[idx].tolist(), iso, ticks.price[idx].tolist())]


def write_jsonl(ticks: Ticks, out_dir: str, n_files: int) -> int:
    """Spread ticks over `n_files` JSON-lines files; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for k, chunk in enumerate(np.array_split(np.arange(len(ticks)),
                                             n_files)):
        body = "\n".join(lines(ticks, chunk)) + "\n"
        with open(os.path.join(out_dir, f"part-{k:05d}.json"), "w") as f:
            f.write(body)
        total += len(body)
    return total
