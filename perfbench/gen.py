"""Seeded input generators. The same seed gives byte-identical inputs.

trip_convert   trip_report ND-JSON files (bolson's widest preset schema).
events_stream  small flat JSON events; the feeder stamps each with its due
               time as an offset from the feed's start, so the bytes do not
               depend on when the run happens.
corpus_curate  a documents parquet plus an eval parquet, with planted exact
               duplicates, near duplicates and eval-overlap documents.
"""

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# trip_report list columns and their fixed lengths (bolson doc/src/schemas.md)
TRIP_LISTS = [
    ("sec_in_band", 12), ("miles_in_time_range", 24),
    ("const_speed_miles_in_band", 12), ("vary_speed_miles_in_band", 12),
    ("sec_decel", 10), ("sec_accel", 10), ("braking", 6), ("accel", 6),
    ("small_speed_var", 13), ("large_speed_var", 13)]
TRIP_FIELDS = ["timestamp", "timezone", "vin", "odometer", "hypermiling",
               "avgspeed", "sec_in_band", "miles_in_time_range",
               "const_speed_miles_in_band", "vary_speed_miles_in_band",
               "sec_decel", "sec_accel", "braking", "accel", "orientation",
               "small_speed_var", "large_speed_var", "accel_decel",
               "speed_changes"]
TRIP_SCALARS = {"timezone": 24, "vin": 1 << 40, "odometer": 1 << 22,
                "avgspeed": 160, "accel_decel": 1000, "speed_changes": 5000}
_NUM = [str(i) for i in range(1000)]


def _rng(seed, stream):
    """Independent generator per (seed, input kind)."""
    key = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def trip_columns(seed, n):
    """The trip rows as columns: numpy arrays, lists as (n, len) matrices."""
    r = _rng(seed, "trip")
    days = r.integers(0, 3650, n)
    secs = r.integers(0, 86400, n)
    base = np.datetime64("2015-01-01T00:00:00")
    ts = (base + days.astype("timedelta64[D]") + secs.astype("timedelta64[s]"))
    cols = {"timestamp": np.datetime_as_string(ts, unit="s").astype(object)}
    for f in TRIP_FIELDS:
        if f in TRIP_SCALARS:
            cols[f] = r.integers(0, TRIP_SCALARS[f], n, dtype=np.int64)
        elif f in ("hypermiling", "orientation"):
            cols[f] = r.integers(0, 2, n).astype(bool)
    for f, k in TRIP_LISTS:
        cols[f] = r.integers(0, 1000, (n, k), dtype=np.int64)
    return cols


def trip_frame(cols):
    """Flat frame (one column per list element) the row digest hashes."""
    flat = {}
    for f in TRIP_FIELDS:
        v = cols[f]
        if v.ndim == 2:
            for j in range(v.shape[1]):
                flat[f"{f}.{j}"] = v[:, j]
        else:
            flat[f] = v
    return pd.DataFrame(flat)


def row_digest(frame):
    """Order-independent digest of a multiset of rows: every row hashed,
    the hashes sorted, the sorted array hashed."""
    h = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    return f"{len(h)}:{hashlib.sha256(h.tobytes()).hexdigest()}"


def trip_lines(cols, lo, hi):
    out = []
    for i in range(lo, hi):
        parts = []
        for f in TRIP_FIELDS:
            v = cols[f]
            if f == "timestamp":
                s = '"' + v[i] + '"'
            elif v.ndim == 2:
                s = "[" + ",".join([_NUM[x] for x in v[i].tolist()]) + "]"
            elif v.dtype == bool:
                s = "true" if v[i] else "false"
            else:
                s = str(int(v[i]))
            parts.append('"' + f + '":' + s)
        out.append("{" + ",".join(parts) + "}\n")
    return "".join(out).encode()


def write_trip(seed, n, files, out_dir):
    """n trip rows in `files` ND-JSON files. Returns (json bytes, digest)."""
    cols = trip_columns(seed, n)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    bounds = np.linspace(0, n, files + 1).astype(int)
    for k in range(files):
        data = trip_lines(cols, bounds[k], bounds[k + 1])
        with open(os.path.join(out_dir, f"trip-{k:03d}.json"), "wb") as f:
            f.write(data)
        total += len(data)
    return total, row_digest(trip_frame(cols))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_DDL = ("event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
             "event_type STRING, value DOUBLE")


def event_values(seed, n):
    """Per-event (user_id, event_type index, value in cents) arrays."""
    r = _rng(seed, "events")
    return (r.integers(0, 10000, n).tolist(),
            r.integers(0, len(EVENT_TYPES), n).tolist(),
            r.integers(0, 56000, n).tolist())


def event_line(i, ts_us, vals):
    users, types, cents = vals
    return (f'{{"event_id":{i},"ts_us":{ts_us},"user_id":{users[i]},'
            f'"event_type":"{EVENT_TYPES[types[i]]}",'
            f'"value":{cents[i] // 100}.{cents[i] % 100:02d}}}\n')


def _words(r, n):
    return ["w%05d" % x for x in r.integers(0, 50021, n)]


def write_corpus(seed, n_docs, out_dir):
    """documents.parquet + eval.parquet under out_dir. Returns the plants:
    exact-duplicate groups, near-duplicate groups and eval-overlap doc ids.

    Base docs are 40..120 words from an open ~50k-word vocabulary, so
    unrelated docs share no 3-shingle. Every 40th doc starts an exact group
    (2..3 byte-identical copies), every 40th (offset 20) a near group (the
    base text, plus variants with one extra word appended, Jaccard >= 0.97),
    and every 50th (offset 7) carries an 8-word span of an eval doc."""
    r = _rng(seed, "corpus")
    n_eval = max(20, n_docs // 100)
    eval_texts = [" ".join(_words(r, 30)) for _ in range(n_eval)]
    texts, exact, near, overlap = [], [], [], []
    i = 0
    while len(texts) < n_docs:
        body = _words(r, int(r.integers(40, 121)))
        if i % 40 == 0:
            k = int(r.integers(2, 4))
            exact.append(list(range(len(texts), len(texts) + k)))
            texts += [" ".join(body)] * k
        elif i % 40 == 20:
            k = int(r.integers(2, 4))
            near.append(list(range(len(texts), len(texts) + k)))
            texts.append(" ".join(body))
            texts += [" ".join(body + _words(r, 1)) for _ in range(k - 1)]
        elif i % 50 == 7:
            src = eval_texts[int(r.integers(0, n_eval))].split(" ")
            at = int(r.integers(0, len(src) - 8))
            cut = int(r.integers(0, len(body)))
            overlap.append(len(texts))
            texts.append(" ".join(body[:cut] + src[at:at + 8] + body[cut:]))
        else:
            texts.append(" ".join(body))
        i += 1
    texts = texts[:n_docs]
    exact = [[d for d in g if d < n_docs] for g in exact]
    near = [[d for d in g if d < n_docs] for g in near]
    exact = [g for g in exact if len(g) > 1]
    near = [g for g in near if len(g) > 1]
    overlap = [d for d in overlap if d < n_docs]
    langs = np.array(["en", "zh", "es", "de", "fr"])[r.integers(0, 5, n_docs)]
    sources = ["src%d" % x for x in r.integers(0, 20, n_docs)]
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_eval, dtype=np.int64) + 10_000_000),
        "text": pa.array(eval_texts, pa.string())}),
        os.path.join(out_dir, "eval.parquet"))
    text_bytes = sum(len(t.encode()) for t in texts)
    return {"exact": exact, "near": near, "overlap": overlap,
            "docs": n_docs, "text_bytes": text_bytes}
