#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --cache <dir>

Writes the inputs of one workload for one seed under
<cache>/<workload>/seed-<n>-<generator digest>/ and prints that directory. The same seed
always gives byte-identical files; a finished directory carries a
MANIFEST (sha256 per file) and is reused instead of regenerated.
"""
import argparse
import hashlib
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SLICE_US = 20 * 60 * 1_000_000  # event-time span of one stream file
EVENT_TYPES = ["view", "click", "scroll", "search", "cart", "buy", "error", "share"]
# sized for the longest --seconds the benchmark accepts (run.py refuses
# longer runs): one small file per 1.5 s of phase A, and one index batch
# per 12-s pass of batch_mix plus the untimed first one
MAX_SECONDS = 60
SMALL_FILES, SMALL_ROWS = MAX_SECONDS * 1000 // 1500, 2000
# small files the set-up feeds one micro-batch at a time before phase A:
# the first few micro-batches of a JVM run on cold code and are slower
WARM_FILES = 6
BIG_FILES, BIG_ROWS = 12, 400_000
DOC_BATCHES, DOCS_PER_BATCH = MAX_SECONDS // 12 + 1, 200


def write(table, path):
    pq.write_table(table, str(path), compression="snappy")


def zipf_ids(rng, n, domain, a=1.3):
    return np.minimum(rng.zipf(a, n), domain).astype(np.int64)


def events_table(rng, first_id, rows, start_us, span_us):
    """`rows` events with event times spread over [start, start+span),
    written in random order (disorder inside the file, within the
    30-minute watermark), skewed user_id and event_type keys."""
    ts = start_us + rng.integers(0, span_us, rows)
    weights = 1.0 / np.arange(1, len(EVENT_TYPES) + 1)
    etype = rng.choice(len(EVENT_TYPES), rows, p=weights / weights.sum())
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(zipf_ids(rng, rows, 100_000)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value_cents": pa.array(rng.integers(1, 100_000, rows, dtype=np.int64)),
    })


def gen_stream_ingest(seed, out):
    rng = np.random.default_rng([seed, 1])
    for d in ("warm", "small", "big", "sentinel"):
        (out / d).mkdir()
    next_id, t = 0, T0_US - (WARM_FILES + 1) * SLICE_US
    for i in range(WARM_FILES):
        t += SLICE_US
        write(events_table(rng, next_id, SMALL_ROWS, t, SLICE_US),
              out / "warm" / f"w{i:04d}.parquet")
        next_id += SMALL_ROWS
    for i in range(SMALL_FILES):
        t += SLICE_US
        write(events_table(rng, next_id, SMALL_ROWS, t, SLICE_US),
              out / "small" / f"s{i:04d}.parquet")
        next_id += SMALL_ROWS
    for i in range(BIG_FILES):
        t += SLICE_US
        write(events_table(rng, next_id, BIG_ROWS, t, SLICE_US),
              out / "big" / f"b{i:04d}.parquet")
        next_id += BIG_ROWS
    # one event three hours past the data: its watermark closes every window
    write(events_table(rng, next_id, 1, t + 3 * 3600 * 1_000_000, 1),
          out / "sentinel" / "z.parquet")


def vocabulary(rng, n=4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(4, 10))))
    return sorted(words)


def documents(rng, n, first_id, vocab, exact=0.05, near=0.20):
    """`n` documents of 60-120 words; about `exact` of them copy an earlier
    document, about `near` copy one with a single word replaced (word
    3-shingle Jaccard about 0.9 or more, well above the 0.8 threshold)."""
    p = 1.0 / (np.arange(len(vocab)) + 10.0)
    p /= p.sum()
    texts = []
    for _ in range(n):
        r = rng.random()
        if texts and r < exact:
            texts.append(texts[rng.integers(len(texts))])
        elif texts and r < exact + near:
            ws = texts[rng.integers(len(texts))].split(" ")
            ws[rng.integers(len(ws))] = vocab[rng.integers(len(vocab))]
            texts.append(" ".join(ws))
        else:
            ws = rng.choice(len(vocab), rng.integers(60, 121), p=p)
            texts.append(" ".join(vocab[i] for i in ws))
    ids = first_id + rng.permutation(n).astype(np.int64)
    langs = ["en", "de", "fr", "es", "zh"]
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([langs[i] for i in rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 10, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })



def gen_batch_mix(seed, out):
    """Micro-batches of documents for the incremental dedup index, with
    duplicates planted within and across batches. The registry queries
    read the fixed sf0.01 tables in data/, not generated ones."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    (out / "docs").mkdir()
    docs = documents(rng, DOC_BATCHES * DOCS_PER_BATCH, 0, vocab)
    for i in range(DOC_BATCHES):
        write(docs.slice(i * DOCS_PER_BATCH, DOCS_PER_BATCH), out / "docs" / f"d{i:04d}.parquet")


GENERATORS = {
    "stream_ingest": gen_stream_ingest,
    "batch_mix": gen_batch_mix,
}


def manifest(root):
    lines = []
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.name != "MANIFEST":
            lines.append(f"{hashlib.sha256(p.read_bytes()).hexdigest()}  {p.relative_to(root)}")
    return "\n".join(lines) + "\n"


def ensure(workload, seed, cache):
    """The input directory for (workload, seed), generated on first use.
    The directory name carries a digest of this file, so a changed
    generator never reuses inputs made by an older one."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    out = Path(cache) / workload / f"seed-{seed}-{version}"
    if (out / "MANIFEST").exists():
        return out
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    GENERATORS[workload](seed, tmp)
    (tmp / "MANIFEST").write_text(manifest(tmp))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True)
    a = ap.parse_args()
    print(ensure(a.workload, a.seed, a.cache))


if __name__ == "__main__":
    sys.exit(main())
