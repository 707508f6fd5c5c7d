"""Seeded log-record stream for `stream_logs`, and the reference outputs.

Each record is (seq, level, id, event_ms). `seq` is the record's position
in the stream and becomes its Kafka key, so an emitted record names its
own scheduled creation time. ERROR records carry an exception-class id,
the dedup key of T2; the ids follow a hot head plus a long tail, so a
known, substantial share of them are duplicates. Event time advances a
fixed step per record with bounded backward jitter, kept strictly
increasing per id so that the per-key order is unambiguous. Global
disorder stays under the engine's 10-minute watermark, so nothing is
dropped as late.
"""

import random

LEVELS = (("INFO", 0.6), ("ERROR", 0.3), ("WARN", 0.1))
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z


def generate(seed, n, step_ms, disorder_ms, hot_ids, hot_share, tail_ids):
    rng = random.Random(seed)
    last = {}
    out = []
    names, weights = zip(*LEVELS)
    for seq in range(n):
        level = rng.choices(names, weights)[0]
        ts = BASE_MS + seq * step_ms - rng.randrange(disorder_ms + 1)
        rid = None
        if level == "ERROR":
            if rng.random() < hot_share:
                rid = f"com.example.HotError{rng.randrange(hot_ids)}"
            else:
                rid = f"com.example.TailError{rng.randrange(tail_ids)}"
            ts = max(ts, last.get(rid, ts - 1) + 1)
            last[rid] = ts
        out.append((seq, level, rid, ts))
    return out


def write_tsv(records, path):
    with open(path, "w") as f:
        for seq, level, rid, ts in records:
            f.write(f"{seq}\t{level}\t{rid or '-'}\t{ts}\n")


def reference_t1(records, level="INFO"):
    """Keys T1 must emit: exactly the records at `level`."""
    return {seq for seq, lv, _, _ in records if lv == level}


def reference_t2(records, window_ms=600000):
    """Keys T2 must emit: a plain sequential, per-key reading of the
    reference rule. A record with an id is a duplicate when the id's stored
    time is within window/2 of its event time; the stored time is refreshed
    by every record, duplicate or not. Records without an id pass.
    """
    stored = {}
    keep = set()
    for seq, _, rid, ts in records:
        if rid is None:
            keep.add(seq)
            continue
        prev = stored.get(rid)
        stored[rid] = ts
        if prev is None or abs(ts - prev) > window_ms // 2:
            keep.add(seq)
    return keep


def max_disorder_ms(records):
    """Largest amount by which a record's event time trails the maximum
    event time seen before it."""
    hi, worst = None, 0
    for _, _, _, ts in records:
        if hi is not None:
            worst = max(worst, hi - ts)
        hi = ts if hi is None else max(hi, ts)
    return worst
