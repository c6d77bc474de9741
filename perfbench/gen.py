"""Seeded input generator for the benchmark.

Every input the engine sees is a file written here; the same
``(seed, scale)`` always yields byte-identical data. Each property
below carries the reason it exists:

TV feeds (``tv_events``, ``write_geo``, ``write_event_drops``), in the
reference S3 layout
``<feed>/yyyy=YYYY/mm=MM/dd=DD/part-00000.parquet`` (the layout
``functions.paths.FEED_PATTERNS`` selects), so stage discovery and
ingest run for real:

- Zipf-skewed device activity and title popularity: hot households
  and hot titles are what make the sessionize shuffle and the
  affected-key recompute uneven.
- viewing bursts whose gaps straddle the 300 s session gap and whose
  totals straddle the 180 s minimum: both sides of both thresholds
  are exercised, so a sessionize bug changes the output.
- ~5% late events per drop (exposure 1-3 days before the drop date):
  late data is what makes the daily pass re-cut old sessions.
- unique ``(hh_id, exposure_start_ts)`` (hence unique
  ``(smba_id, exposure_start_ts)``): the merge key is deliberately
  weak, and duplicates would legitimately make the incremental result
  diverge from the one-shot chain; unique starts per household also
  make the sessionize ordering total.
- geo weights for every device on every Monday, weights in exact
  quarters: every event is attributable, and weighted sums are exact
  in double arithmetic, so the rollup compares exactly.

Documents (``documents``): a Zipf vocabulary, ~10% planted
near-duplicates (one token changed — Jaccard far above the 50%
threshold) so dedup drops real rows, and planted eval leaks (spans
copied from eval documents, a few whole copies) so decontamination
excises real spans. Doc ids ascend across drops, the condition under
which daily increments equal the wholesale dedup rule.

Embeddings (``embeddings``): clustered 64-dim vectors with ~5%
planted near-identical copies, so the IVF clusters are meaningful and
exact top-10 lists contain near-ties; queries are perturbed corpus
points with ids outside the corpus.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.date(2025, 3, 3)  # a Monday
EPOCH = dt.date(1970, 1, 1)
FEED_DIRS = {"ACR": "ACR", "STB": "STB", "GEO_WEIGHTS": "Geo-Weights"}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def drop_dir(stage: str, feed: str, day: dt.date) -> str:
    return os.path.join(
        stage, FEED_DIRS[feed],
        f"yyyy={day.year:04d}", f"mm={day.month:02d}", f"dd={day.day:02d}",
    )


# ---------------------------------------------------------------- TV


def tv_events(seed: int, n_devices: int, n_households: int,
              n_titles: int, n_days: int, events_per_day: int,
              late_frac: float = 0.05) -> dict[str, np.ndarray]:
    """All viewing events of ``n_days`` drops as column arrays.
    ``drop`` is the day index of the file an event arrives in."""
    r = _rng(seed, 1)
    dev_hh = r.integers(0, n_households, n_devices)
    dev_p = _zipf_p(n_devices, 0.8)[r.permutation(n_devices)]
    title_p = _zipf_p(n_titles, 1.1)
    mean_len = 3.5
    cols: dict[str, list] = {k: [] for k in (
        "dev", "title", "ep", "start", "dur", "drop")}
    for day in range(n_days):
        # exactly events_per_day events per drop (the last burst is cut)
        length = 1 + r.poisson(mean_len - 1, int(events_per_day / 2))
        nb = int(np.searchsorted(np.cumsum(length), events_per_day)) + 1
        length = length[:nb]
        length[-1] -= length.sum() - events_per_day
        dev = r.choice(n_devices, nb, p=dev_p)
        title = r.choice(n_titles, nb, p=title_p)
        ep = r.integers(0, 3, nb)
        shift = np.zeros(nb, dtype=np.int64)
        if day:
            late = r.permutation(nb)[: round(nb * late_frac)]
            shift[late] = r.integers(1, min(day, 3) + 1, late.size)
        day0 = ((FIRST_DAY - EPOCH).days + day - shift) * 86400
        b_start = day0 + r.integers(0, 86400 - 4000, nb)
        n = int(length.sum())
        burst = np.repeat(np.arange(nb), length)
        first = np.concatenate(([0], np.cumsum(length)[:-1]))
        dur = r.integers(30, 151, n)
        gap = r.integers(200, 401, n)  # straddles the 300 s break
        step = np.concatenate(([0], (dur + gap)[:-1]))
        step[first] = 0
        cum = np.cumsum(step)
        start = b_start[burst] + cum - cum[first][burst]
        for k, v in (("dev", dev[burst]), ("title", title[burst]),
                     ("ep", ep[burst]), ("start", start), ("dur", dur),
                     ("drop", np.full(n, day))):
            cols[k].append(v)
    ev = {k: np.concatenate(v) for k, v in cols.items()}
    ev["hh"] = dev_hh[ev["dev"]]
    # unique (household, start): keep the first occurrence
    _, keep = np.unique(
        ev["hh"].astype(np.int64) * (1 << 40) + ev["start"],
        return_index=True,
    )
    keep.sort()
    return {k: v[keep] for k, v in ev.items()}


def mondays(n_days: int) -> list[dt.date]:
    """Every Monday that can cover an event of the first ``n_days``
    drops (a date ``d`` is covered by Mondays in ``(d, d+28]``)."""
    last = FIRST_DAY + dt.timedelta(days=n_days - 1 + 28)
    d = FIRST_DAY + dt.timedelta(days=7)
    out = []
    while d <= last:
        out.append(d)
        d += dt.timedelta(days=7)
    return out


def _event_table(ev: dict[str, np.ndarray], idx: np.ndarray,
                 acr: bool) -> pa.Table:
    dev, title, ep = ev["dev"][idx], ev["title"][idx], ev["ep"][idx]
    start, dur = ev["start"][idx], ev["dur"][idx]
    ctype = np.array(["live", "vod", "svod"])[title % 3]
    cols = {
        "smba_id": [f"d{d:06d}" for d in dev],
        "exposure_start_ts": pa.array(start, pa.int64()),
        "exposure_end_ts": pa.array(start + dur, pa.int64()),
        "duration": pa.array(dur, pa.int64()),
        "content_type": ctype.tolist(),
        "content_id": [f"c{t}_{e}" for t, e in zip(title, ep)],
        "title": [f"t{t:04d}" for t in title],
        "episode_title": pa.nulls(len(idx), pa.string()),
        "season": [str(1 + t % 3) for t in title],
        "episode": [str(e) for e in ep],
        "network": [f"n{t % 12:02d}" for t in title],
        "dma": [f"5{h % 20:02d}" for h in ev["hh"][idx]],
    }
    if acr:
        cols["application"] = [f"app_{d % 4}" for d in dev]
    return pa.table(cols)


def is_acr(dev: np.ndarray) -> np.ndarray:
    return dev % 3 != 0


def geo_weight(dev: np.ndarray, week: int) -> np.ndarray:
    """Exact binary quarters, varying per device and week."""
    return ((dev * 7 + week) % 8 + 1) * 0.25


def _geo_tables(seed: int, n_devices: int, n_households: int,
                n_days: int):
    """(Monday, weights table) for every Monday: each device with its
    household (the first draw of ``tv_events``' stream) and weight."""
    dev_hh = _rng(seed, 1).integers(0, n_households, n_devices)
    dev = np.arange(n_devices)
    hh = [f"h{h:05d}" for h in dev_hh]
    smba = [f"d{d:06d}" for d in dev]
    for week, m in enumerate(mondays(n_days)):
        yield m, pa.table({
            "hh_id": hh,
            "smba_id": smba,
            "geo_weight": pa.array(geo_weight(dev, week), pa.float64()),
        })


def write_geo(stage: str, seed: int, n_devices: int, n_households: int,
              n_days: int) -> int:
    """One Geo-Weights drop per Monday, every device on every one."""
    return sum(
        _write(t, os.path.join(drop_dir(stage, "GEO_WEIGHTS", m),
                               "part-00000.parquet"))
        for m, t in _geo_tables(seed, n_devices, n_households, n_days))


def write_event_drops(stage: str, ev: dict[str, np.ndarray],
                      days: range) -> int:
    """ACR and STB files of the given drop days."""
    nbytes = 0
    acr = is_acr(ev["dev"])
    for day in days:
        date = FIRST_DAY + dt.timedelta(days=day)
        for feed, sel in (("ACR", acr), ("STB", ~acr)):
            idx = np.flatnonzero((ev["drop"] == day) & sel)
            nbytes += _write(
                _event_table(ev, idx, feed == "ACR"),
                os.path.join(drop_dir(stage, feed, date),
                             "part-00000.parquet"))
    return nbytes


def tv_oracle_tables(ev: dict[str, np.ndarray], n_devices: int,
                     n_households: int, n_days: int, seed: int,
                     upto_day: int) -> dict[str, pa.Table]:
    """The same feeds as flat Arrow tables (events of drops
    ``<= upto_day`` with their drop date; geo with its Monday) for
    the DuckDB oracle."""
    idx = np.flatnonzero(ev["drop"] <= upto_day)
    acr = is_acr(ev["dev"][idx])
    t = _event_table(ev, idx, True)
    t = t.set_column(
        t.schema.get_field_index("application"), "application",
        pa.array([a if k else None for a, k in
                  zip(t.column("application").to_pylist(), acr)],
                 pa.string()))
    drop_dates = [FIRST_DAY + dt.timedelta(days=int(d))
                  for d in ev["drop"][idx]]
    t = t.append_column("source_table", pa.array(
        np.where(acr, "ACR", "STB").tolist()))
    t = t.append_column("metadata_date", pa.array(drop_dates, pa.date32()))
    geo = pa.concat_tables(
        g.append_column("metadata_date", pa.array([m] * len(g), pa.date32()))
        for m, g in _geo_tables(seed, n_devices, n_households, n_days))
    return {"events": t, "geo": geo}


# ---------------------------------------------------------------- docs


def _vocab(r: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        ln = r.integers(3, 10)
        words.add("".join(letters[r.integers(0, 26, ln)]))
    return np.array(sorted(words))


def documents(seed: int, n_boot: int, n_daily: int, n_eval: int = 40,
              vocab: int = 4000, dup_frac: float = 0.10,
              leak_frac: float = 0.03) -> dict[str, list]:
    """Bootstrap docs (ids ``0..n_boot-1``), one daily drop (ids
    above), and the eval suite (ids from 10**9)."""
    r = _rng(seed, 2)
    words = _vocab(r, vocab)
    p = _zipf_p(vocab, 1.05)
    evals = [words[r.choice(vocab, r.integers(60, 100), p=p)].tolist()
             for _ in range(n_eval)]
    n = n_boot + n_daily
    # exact counts of planted duplicates and leaks in every drop
    kind = np.zeros(n, dtype=np.int8)
    for lo, hi in ((1, n_boot), (n_boot, n)):
        pick = lo + r.permutation(hi - lo)
        n_dup = round((hi - lo) * dup_frac)
        n_leak = round((hi - lo) * leak_frac)
        kind[pick[:n_dup]] = 1
        kind[pick[n_dup:n_dup + n_leak]] = 2
        # a fifth of the leaks are whole eval copies, emptied by excision
        kind[pick[n_dup:n_dup + n_leak // 5]] = 3
    toks: list[list[str]] = []
    for i in range(n):
        if kind[i] == 1:
            # near-duplicate of an earlier doc (same batch or index)
            src = int(r.integers(0, i))
            d = list(toks[src])
            d[int(r.integers(0, len(d)))] = words[r.integers(0, vocab)]
        elif kind[i] == 3:
            d = list(evals[int(r.integers(0, n_eval))])
        elif kind[i] == 2:
            d = words[r.choice(vocab, r.integers(60, 160), p=p)].tolist()
            e = evals[int(r.integers(0, n_eval))]
            at = int(r.integers(0, len(d)))
            s0 = int(r.integers(0, len(e) - 20))
            d[at:at] = e[s0:s0 + int(r.integers(12, 21))]
        else:
            d = words[r.choice(vocab, r.integers(60, 160), p=p)].tolist()
        toks.append(d)
    text = [" ".join(t) for t in toks]
    return {
        "boot": (list(range(n_boot)), text[:n_boot]),
        "daily": (list(range(n_boot, n_boot + n_daily)), text[n_boot:]),
        "eval": ([10**9 + i for i in range(n_eval)],
                 [" ".join(e) for e in evals]),
    }


def write_docs(path: str, ids: list[int], text: list[str]) -> int:
    return _write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                            "text": text}), path)


# ---------------------------------------------------------------- vectors


def embeddings(seed: int, n: int, n_queries: int, n_batches: int,
               dim: int = 64, cluster_size: int = 50,
               copy_frac: float = 0.05) -> tuple[np.ndarray, np.ndarray]:
    """(corpus float32 [n, dim], queries float32 [batches*q, dim])."""
    r = _rng(seed, 3)
    n_clusters = max(2, n // cluster_size)
    centers = r.normal(0.0, 0.5, (n_clusters, dim))
    spread = r.uniform(0.04, 0.12, n_clusters)
    c = r.choice(n_clusters, n, p=_zipf_p(n_clusters, 0.6))
    x = centers[c] + r.normal(0.0, 1.0, (n, dim)) * spread[c, None]
    copies = np.flatnonzero(r.random(n) < copy_frac)
    src = r.integers(0, n, copies.size)
    x[copies] = x[src] + r.normal(0.0, 0.002, (copies.size, dim))
    qi = r.integers(0, n, n_queries * n_batches)
    qs = x[qi] + r.normal(0.0, 0.02, (qi.size, dim))
    return x.astype(np.float32), qs.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray) -> int:
    dim = x.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.reshape(-1), pa.float32()), dim)
    return _write(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
    }), path)


def quantize(x: np.ndarray) -> np.ndarray:
    """The engine's milliunit quantization, ``floor(double(x)*1000)``."""
    return np.floor(x.astype(np.float64) * 1000).astype(np.int64)
