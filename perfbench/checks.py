"""Output checkers. Each returns a list of problems; empty means correct."""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

import gen


def read_messages(out_dir):
    """Every published message as (path, mtime ms, size, table, batches)."""
    msgs = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.arrow"))):
        with open(path, "rb") as f:
            data = f.read()
        reader = ipc.open_stream(pa.BufferReader(data))
        batches = list(reader)
        table = pa.Table.from_batches(batches, reader.schema)
        msgs.append((path, os.stat(path).st_mtime_ns / 1e6, len(data),
                     table, len(batches)))
    return msgs


def message_limits(msgs, max_rows, max_ipc):
    """Every message holds one record batch within --max-rows and
    --max-ipc."""
    bad = []
    for path, _, size, table, n_batches in msgs:
        name = os.path.basename(path)
        if n_batches != 1:
            bad.append(f"{name}: {n_batches} record batches")
        if table.num_rows > max_rows:
            bad.append(f"{name}: {table.num_rows} rows > {max_rows}")
        if size > max_ipc:
            bad.append(f"{name}: {size} bytes > {max_ipc}")
    return bad


def trip(msgs, digest, max_rows, max_ipc):
    """Row digest equals the generator's, seq is 0..n-1 with each value
    once, and every message is within the limits."""
    bad = message_limits(msgs, max_rows, max_ipc)
    if not msgs:
        return bad + ["no messages published"]
    table = pa.concat_tables([m[3] for m in msgs])
    seq = np.sort(table.column("seq").to_numpy())
    if not np.array_equal(seq, np.arange(len(seq))):
        bad.append("seq is not contiguous from 0 to n-1 with each value once")
    cols = {}
    for f in gen.TRIP_FIELDS:
        c = table.column(f).combine_chunks()
        if pa.types.is_list(c.type):
            k = dict(gen.TRIP_LISTS)[f]
            lengths = np.diff(c.offsets.to_numpy())
            if not np.all(lengths == k):
                bad.append(f"{f}: list length is not {k}")
                return bad
            cols[f] = c.flatten().to_numpy().reshape(-1, k)
        elif pa.types.is_string(c.type):
            cols[f] = np.array(c.to_pylist(), dtype=object)
        else:
            cols[f] = c.to_numpy(zero_copy_only=False)
    got = gen.row_digest(gen.trip_frame(cols))
    if got != digest:
        bad.append(f"row digest {got} != generated {digest}")
    return bad


def events(msgs, n, due_us, vals, max_rows):
    """Every event_id 0..n-1 published exactly once with its sent values.
    Returns (problems, failed event count, publish time ms per event)."""
    bad = message_limits(msgs, max_rows, 1 << 62)
    done = np.zeros(n)
    seen = np.zeros(n, dtype=np.int64)
    wrong = np.zeros(n, dtype=bool)
    users, types, cents = (np.asarray(v) for v in vals)
    type_names = np.array(gen.EVENT_TYPES, dtype=object)
    for _, mtime, _, t, _ in msgs:
        ids = t.column("event_id").to_numpy()
        inr = (ids >= 0) & (ids < n)
        if not inr.all():
            bad.append("event_id outside the sent range")
        ids = ids[inr]
        np.add.at(seen, ids, 1)
        done[ids] = mtime
        ok = ((t.column("ts_us").to_numpy()[inr] == due_us[ids])
              & (t.column("user_id").to_numpy()[inr] == users[ids])
              & (np.array(t.column("event_type").to_pylist(), dtype=object)[inr]
                 == type_names[types[ids]])
              & (t.column("value").to_numpy()[inr] == cents[ids] / 100))
        wrong[ids[~ok]] = True
    lost, dup = int((seen == 0).sum()), int((seen > 1).sum())
    n_wrong = int((wrong & (seen > 0)).sum())
    if lost:
        bad.append(f"{lost} events lost")
    if dup:
        bad.append(f"{dup} events published more than once")
    if n_wrong:
        bad.append(f"{n_wrong} events published with values other than sent")
    failed = int(((seen != 1) | wrong).sum())
    return bad, failed, done


def curate(out_dir, plants, memo_builds):
    """Each planted exact-duplicate group keeps one doc, no eval-overlap doc
    survives, surviving near-duplicate group members share a split, and
    the run built its memos (a reused input would not)."""
    bad = []
    if memo_builds <= 0:
        bad.append("no memo was built: the input was not fresh")
    t = pq.read_table(out_dir, columns=["doc_id", "split"])
    split = dict(zip(t.column("doc_id").to_pylist(), t.column("split").to_pylist()))
    if len(split) != t.num_rows:
        bad.append("a doc_id appears twice in the curated output")
    for g in plants["exact"]:
        kept = sum(d in split for d in g)
        if kept != 1:
            bad.append(f"exact-duplicate group {g[0]} kept {kept} docs")
    leaked = [d for d in plants["overlap"] if d in split]
    if leaked:
        bad.append(f"{len(leaked)} eval-overlap docs survived")
    for g in plants["near"]:
        if len({split[d] for d in g if d in split}) > 1:
            bad.append(f"near-duplicate group {g[0]} spans splits")
    return bad
