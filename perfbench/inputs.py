"""Seeded inputs for the benchmark and their exact answers.

Inputs are generated in numpy on the driver and written as parquet with
pyarrow, so set-up pays no Spark job for them; the exact answers come from
the same arrays, so no library code path computes its own truth.

Pages (the Common-Crawl-style table): rows of (url, warc_ts, lang), written
Hive-partitioned by (lang, day) with one file per directory, the layout
``sources.catalog.write_pages_table`` produces from a clustered input.
About 20% of rows repeat the url of an earlier row. A url is a function of
its canonical row id plus a seed suffix, so exact NDV is the number of
distinct canonical ids while every hash changes with the seed. ``lang`` is
a function of the canonical id (one url, one lang); the day is drawn per
row, so one url can land on several days. Beside the table, one row per
distinct url (canonical id, url) is written for the reference sketches.

Reference sketches: the exact answer of an NDV query is both the exact
count and the HLL estimate of the registers the exact set of hashes fills,
built here from the storage spec (LSB register index, 1-based rho of the
remaining bits, js-hll's estimator) without the package. Spark's
``xxhash64`` of each distinct url, the package's default hash, supplies the
hashes, so an answer must equal its reference estimate, not merely lie
near the exact count.

Docs (the text table): rows of (text, lang). Token ranks follow a Zipf law
over a fixed vocabulary and a third of the tokens are capitalised, so the
heavy-hitter query has to lowercase before counting.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh", "pt", "it", "nl", "ru", "ja", "ko",
         "ar", "sv", "pl"]
# en 60, de 10, fr 8, es 7, zh 6, nine tail langs 1% each
LANG_CUM = np.cumsum([0.60, 0.10, 0.08, 0.07, 0.06] + [0.01] * 9)
N_DAYS = 14
DAY0 = dt.date(2026, 1, 1)
N_HOSTS = 2000
VOCAB = 20000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_ranks(u: np.ndarray, n: int, s: float) -> np.ndarray:
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, u, side="right").clip(0, n - 1)


def _langs(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.searchsorted(LANG_CUM, rng.random(n), side="right") \
        .clip(0, len(LANGS) - 1)


def hll_registers(hashes: np.ndarray, groups: np.ndarray, n_groups: int,
                  log2m: int, regwidth: int = 5) -> np.ndarray:
    """(n_groups, m) register files of 64-bit ``hashes`` by group code:
    register index = the low ``log2m`` bits, value = the 1-based position of
    the lowest set bit of the rest (0 for none), capped at 2^regwidth - 1."""
    h = hashes.astype(np.uint64, copy=False)
    idx = (h & np.uint64((1 << log2m) - 1)).astype(np.int64)
    w = h >> np.uint64(log2m)
    rho = np.zeros(h.size, dtype=np.int64)
    nz = w != 0
    lowest = w[nz] & (~w[nz] + np.uint64(1))  # a power of two, exact in float
    rho[nz] = np.log2(lowest.astype(np.float64)).astype(np.int64) + 1
    regs = np.zeros((n_groups, 1 << log2m), dtype=np.int64)
    np.maximum.at(regs, (groups, idx), np.minimum(rho, (1 << regwidth) - 1))
    return regs


def hll_estimates(regs: np.ndarray) -> np.ndarray:
    """js-hll's estimator per register file: alpha m^2 / sum 2^-M[j], or
    linear counting below 5m/2 while a register is zero. The large-range
    correction starts near 2.9e11 at log2m = 13, far above these inputs."""
    m = regs.shape[1]
    raw = 0.7213 / (1.0 + 1.079 / m) * m * m / np.exp2(-regs).sum(axis=1)
    zeros = (regs == 0).sum(axis=1)
    linear = m * np.log(m / np.maximum(zeros, 1))
    return np.where((zeros > 0) & (raw < 2.5 * m), linear, raw)


class PagesTruth:
    """Exact NDV(url) at any (lang, day) grain, from distinct (day, url)
    pairs, and the reference HLL estimate of each exact set."""

    def __init__(self, canon, lang, day) -> None:
        pair = np.unique(canon * N_DAYS + day)
        pc_ = pair // N_DAYS
        lang_of = np.zeros(int(canon.max()) + 1, dtype=np.int64)
        lang_of[canon] = lang
        self._pairs = pd.DataFrame({
            "canon": pc_, "day": pair % N_DAYS,
            "lang": np.asarray(LANGS)[lang_of[pc_]],
        })
        self._rows = pd.DataFrame({"day": day,
                                   "lang": np.asarray(LANGS)[lang]}) \
            .groupby(["lang", "day"]).size()
        self._hashes = None
        self._answers: dict[tuple, dict] = {}

    def set_hashes(self, canon: np.ndarray, hashes: np.ndarray,
                   log2m: int) -> None:
        """The 64-bit hash of each canonical id's url, and the size of the
        reference sketches."""
        self._hashes = np.zeros(int(canon.max()) + 1, dtype=np.uint64)
        self._hashes[canon] = hashes
        self._log2m = log2m

    def ndv(self, by=(), days=None, lang=None) -> dict[tuple, tuple]:
        """{group key tuple: (exact NDV, reference HLL estimate)};
        ``days`` is an inclusive (first, last) day-index
        range, ``lang`` one language. Computed once per query shape."""
        key = (tuple(by), days, lang)
        if key not in self._answers:
            self._answers[key] = self._ndv(list(by), days, lang)
        return self._answers[key]

    def _ndv(self, by, days, lang) -> dict[tuple, tuple]:
        p = self._pairs
        if days is not None:
            p = p[(p["day"] >= days[0]) & (p["day"] <= days[1])]
        if lang is not None:
            p = p[p["lang"] == lang]
        if "day" not in by:
            p = p.drop_duplicates(["canon"] + by)
        if by:
            groups = p.groupby(by, sort=True)
            codes = groups.ngroup().to_numpy()
            keys = [k if isinstance(k, tuple) else (k,)
                    for k in groups.size().index]
        else:
            codes, keys = np.zeros(len(p), dtype=np.int64), [()]
        regs = hll_registers(self._hashes[p["canon"].to_numpy()], codes,
                             len(keys), self._log2m)
        est = hll_estimates(regs)
        sizes = np.bincount(codes, minlength=len(keys))
        return {k: (int(sizes[i]), float(est[i])) for i, k in enumerate(keys)}

    def rows_by_lang_day(self) -> dict[tuple, int]:
        return {k: int(v) for k, v in self._rows.items()}

    def day_rows(self, day: int) -> int:
        return int(self._rows.xs(day, level="day").sum())


def write_pages(seed: int, n: int, path: str, urls_path: str) -> PagesTruth:
    rng = _rng(seed, 1)
    ids = np.arange(n, dtype=np.int64)
    is_dup = (rng.random(n) < 0.20) & (ids > 0)
    canon = np.where(is_dup, np.floor(rng.random(n) * ids).astype(np.int64), ids)
    lang = _langs(rng, n)[canon]
    host = _zipf_ranks(rng.random(n), N_HOSTS, 1.2)[canon]
    secs = rng.integers(0, N_DAYS * 86400, n)
    day = secs // 86400
    epoch = int(dt.datetime(DAY0.year, DAY0.month, DAY0.day,
                            tzinfo=dt.timezone.utc).timestamp())
    url = pc.binary_join_element_wise(
        "https://host", pa.array(host).cast(pa.string()), ".example.com/p/",
        pa.array(canon).cast(pa.string()), f"/s{seed}", "")
    days = np.array([(DAY0 + dt.timedelta(days=d)).isoformat()
                     for d in range(N_DAYS)])
    table = pa.table({
        "url": url,
        "warc_ts": pa.array((epoch + secs) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "lang": pa.array(np.asarray(LANGS)[lang]),
        "day": pa.array(days[day]),
    })
    # one file per (lang, day) directory
    ds.write_dataset(
        table, path, format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("lang", pa.string()), ("day", pa.string())]),
            flavor="hive"),
        basename_template="part-{i}.parquet")
    distinct, first = np.unique(canon, return_index=True)
    pq.write_table(pa.table({"canon": distinct, "url": url.take(first)}),
                   urls_path)
    return PagesTruth(canon, lang, day)


class DocsTruth:
    """Exact token frequencies and per-lang length distributions."""

    def __init__(self, vocab, counts, lang, length) -> None:
        self.vocab = vocab
        self.counts = counts
        self.n_tokens = int(counts.sum())
        self.lengths = {LANGS[i]: np.sort(length[lang == i])
                        for i in np.unique(lang)}

    def count(self, token: str) -> int:
        hit = np.flatnonzero(self.vocab == token)
        return int(self.counts[hit[0]]) if hit.size else 0

    def top(self, k: int) -> list[tuple[str, int]]:
        order = np.lexsort((self.vocab, -self.counts))[:k]
        return [(str(self.vocab[i]), int(self.counts[i])) for i in order]

    def rank_error(self, lang: str, q: float, value: float) -> float:
        """Distance from q to the exact rank interval of ``value``:
        [share of lengths < value, share of lengths <= value]."""
        x = self.lengths[lang]
        lo = np.searchsorted(x, value, side="left") / x.size
        hi = np.searchsorted(x, value, side="right") / x.size
        return float(max(0.0, lo - q, q - hi))


def write_docs(seed: int, n: int, path: str, files: int) -> DocsTruth:
    rng = _rng(seed, 2)
    vocab = np.array(["t" + np.base_repr(r, 36).lower() for r in range(VOCAB)])
    n_tok = rng.integers(4, 25, n)
    tok = _zipf_ranks(rng.random(int(n_tok.sum())), VOCAB, 1.1)
    upper = rng.random(tok.size) < 1 / 3
    words = pa.array(np.concatenate([vocab, np.char.capitalize(vocab)])) \
        .take(pa.array(tok + VOCAB * upper))
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words),
                          " ")
    lang = _langs(rng, n)
    table = pa.table({"text": text, "lang": pa.array(np.asarray(LANGS)[lang])})
    os.makedirs(path)
    for i, lo in enumerate(range(0, n, -(-n // files))):
        pq.write_table(table.slice(lo, -(-n // files)),
                       os.path.join(path, f"part-{i}.parquet"))
    length = (np.add.reduceat(np.char.str_len(vocab)[tok], offsets[:-1])
              + n_tok - 1)
    return DocsTruth(vocab, np.bincount(tok, minlength=VOCAB), lang, length)
