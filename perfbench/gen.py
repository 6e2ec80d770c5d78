"""Seeded input generator for the benchmark workloads.

Every workload's input is a directory of parquet tables with the same schemas
as the library's query tables (`events`, `documents`), so the library's own
query code and its DuckDB oracle SQL both run on it unchanged. The seed drives
every perturbation: station re-keying, time shift, spike positions, token
permutation of near-duplicate documents and media-id offsets. The same seed
gives byte-identical files; nothing outside the output directory is read.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes at scale 1. The platform input is a wide fleet of short station
# records plus a few long ones; the curation input is a document set, each
# document also one audio item. At these sizes fixed per-query cost is most
# of a pass (a traced run reports the share). Every run also generates the
# same shape at SMALL_SCALE: the warm-up runs on it, and a traced run times
# passes over it as the fixed cost.
FLEET_STATIONS, FLEET_OBS = 700, 67          # many short station records
LONG_STATIONS, LONG_OBS = 20, 720            # fewer, 10x longer records
DOCS = 400
SMALL_SCALE = 0.05

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.14, 0.15])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split())

# plus a fixed vocabulary of 3,000 pseudo-words, so unrelated documents
# share few 3-shingles and LSH buckets hold mostly true near-duplicates
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "ri", "do", "fe", "gu"]
EXTRA = np.array([_SYL[i % 15] + _SYL[(i // 15) % 15] + _SYL[(i // 225) % 15]
                  for i in range(3000)])

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _rng(workload: str, seed: int) -> np.random.Generator:
    # one stream per (workload, seed); the tag is computed, not hash(), which
    # Python salts per process
    tag = sum((i + 1) * ord(c) for i, c in enumerate(workload))
    return np.random.default_rng([int(seed), tag])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _records(rng, station_ids, obs_per_station, gap_lo_s, gap_hi_s, start_us):
    """Station records: strictly increasing ts per station, values in the
    testdata's distribution (2-dp, mostly tens to a few hundred) with seeded
    spikes. Returns (user_id, ts, value) in station order."""
    n_st = len(station_ids)
    n = n_st * obs_per_station
    gaps = rng.integers(gap_lo_s * 1_000_000, gap_hi_s * 1_000_000, size=(n_st, obs_per_station))
    ts = start_us[:, None] + np.cumsum(gaps, axis=1)
    value = np.round(rng.exponential(50.0, size=n), 2)
    spikes = rng.random(n) < 0.01
    value = np.where(spikes, np.round(value + 400.0, 2), value)
    return np.repeat(station_ids, obs_per_station), ts.reshape(-1), value


def platform(rng, scale: float) -> pa.Table:
    """One row per observation. Fleet stations start anywhere in January and
    keep >50 rows inside it (QAQC works per station and month); long stations
    record hourly-ish through January. Stations are re-keyed, file order is
    not station order, event ids are globally unique and shuffled."""
    day_us = 86_400_000_000
    n_fleet = max(4, int(FLEET_STATIONS * scale))
    n_long = max(2, int(LONG_STATIONS * scale))
    ids = rng.permutation((n_fleet + n_long) * 10)[:n_fleet + n_long]  # station re-keying
    fleet = _records(rng, ids[:n_fleet], FLEET_OBS, 1800, 5400,
                     EPOCH_2024_US + day_us + rng.integers(0, 24 * day_us, size=n_fleet))
    long = _records(rng, ids[n_fleet:], LONG_OBS, 3000, 4200,
                    EPOCH_2024_US + rng.integers(0, 6 * 3_600_000_000, size=n_long))
    user, ts, value = (np.concatenate(x) for x in zip(fleet, long))
    n = len(user)
    order = rng.permutation(n)
    event_id = rng.permutation(n).astype(np.int64)
    return pa.table({
        "event_id": pa.array(event_id[order], pa.int64()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(user[order].astype(np.int64), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)][order]),
        "value": pa.array(value[order], pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)[order]]),
    })


def documents(rng, n_docs: int, dup_frac: float = 0.3) -> pa.Table:
    """Random-word documents (testdata vocabulary mixed with pseudo-words); `dup_frac` of them
    are near-copies of an earlier original with a few adjacent tokens swapped
    (seeded token permutation), so star-shaped near-dup clusters exist."""
    lens = rng.integers(10, 100, size=n_docs)
    texts, originals = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_frac:
            toks = list(texts[originals[int(rng.integers(0, len(originals)))]].split(" "))
            for _ in range(int(rng.integers(1, 3))):
                j = int(rng.integers(0, len(toks) - 1))
                toks[j], toks[j + 1] = toks[j + 1], toks[j]
            texts.append(" ".join(toks))
        else:
            base = VOCAB[rng.integers(0, len(VOCAB), size=lens[i])]
            extra = EXTRA[rng.integers(0, len(EXTRA), size=lens[i])]
            texts.append(" ".join(np.where(rng.random(lens[i]) < 0.3, base, extra)))
            originals.append(i)
    base = int(rng.integers(0, 1000)) * 4                 # id re-keying, group-aligned
    doc_id = base + np.arange(n_docs, dtype=np.int64)
    order = rng.permutation(n_docs)
    return pa.table({
        "doc_id": pa.array(doc_id[order], pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(LANGS[rng.choice(5, size=n_docs, p=LANG_P)][order]),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, size=n_docs)[order]]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })


def generate(workload: str, seed: int, out_dir: str, scale: float = 1.0) -> int:
    """Write the workload's tables into `out_dir`; return its input-row count
    (observations or documents)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(workload, seed)
    if workload in ("platform", "calibration"):
        t = platform(rng, scale)
        _write(t, os.path.join(out_dir, "events.parquet"))
    elif workload == "curation":
        t = documents(rng, max(40, int(DOCS * scale)))
        _write(t, os.path.join(out_dir, "documents.parquet"))
    else:
        raise ValueError("unknown workload: " + workload)
    return t.num_rows


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
