"""graft benchmark: three workloads, each driven through a graft.Main verb.

    python3 perfbench/run.py --workload trip_convert|events_stream|corpus_curate|all
        --seed N --seconds S --trace 0|1

Run from the repository root. The program and the harness are compiled
from source on first use (see harness/build.py). Human-readable lines come
first, every metric by name with its unit; the last line of standard output
is one JSON object with `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`; `--workload all` does this for each workload in
turn. README.md explains the workloads and what each metric should move.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import feeder  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402
import selftest  # noqa: E402
import stats  # noqa: E402
from harness import build  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# trip_convert: ~30 MB of JSON per conversion in four files (one task each)
TRIP_ROWS, TRIP_FILES = 36000, 4
TRIP_MAX_ROWS, TRIP_MAX_IPC = 4096, 5242880
# events_stream: a ladder of rates (events/s). The warm-up step is not
# scored; NOMINAL is the rate latency is reported at; a step is sustained
# when its p99 latency is within LIMIT_MS and its backlog does not grow
WARMUP_RATE, NOMINAL_RATE, LADDER = 2000, 4000, (4000, 8000, 16000)
LIMIT_MS = 1000.0
EVENT_MAX_ROWS = 256
# corpus_curate: documents per fresh corpus
CURATE_DOCS = 3000
MB = 1e6
UNITS = {"cpu_ms_per_mb": "ms/MB", "throughput_mb_per_s": "MB/s",
         "curate_docs_per_s": "docs/s"}


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.values = {}   # every end-to-end value, bounded or printed only
        self.units = {}
        self.layers = {}

    def op(self, problems):
        """Count one attempted operation; it failed if it has problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems

    def put(self, name, value, unit=None):
        self.values[name] = float(value)
        self.units[name] = unit or UNITS.get(name, "ms")


def spans_named(launch, name):
    return [s for s in launch.report["spans"] if s["name"] == name]


def children(launch, span, name="job"):
    return [s for s in launch.report["spans"]
            if s["name"] == name and s["parent"] == span["id"]]


def in_window(launch, span, name):
    return [s for s in launch.report["spans"] if s["name"] == name
            and span["start_ms"] <= s["start_ms"] <= span["end_ms"]]


def dur(s):
    return s["end_ms"] - s["start_ms"]


def session_layers(launch, spans):
    """session.* and the operators' task counters, per verb call."""
    per = len(spans)
    sums = {"jobs": 0.0}
    for sp in spans:
        for j in children(launch, sp):
            sums["jobs"] += 1
            for k, v in j["attrs"].items():
                sums[k] = sums.get(k, 0.0) + v
    self_s = [stats.self_time((sp["start_ms"], sp["end_ms"]),
                              [(j["start_ms"], j["end_ms"]) for j in children(launch, sp)])
              for sp in spans]
    return {
        "session.task_cpu_s": sums.get("task_cpu_ns", 0) / 1e9 / per,
        "session.gc_ms": sums.get("gc_ms", 0) / per,
        "session.jobs": sums["jobs"] / per,
        "session.outside_jobs_s": stats.median(self_s) / 1000.0,
        "operators.tasks": sums.get("tasks", 0) / per,
        "operators.shuffle_write_mb": sums.get("shuffle_write_bytes", 0) / MB / per,
        "operators.shuffle_read_mb": sums.get("shuffle_read_bytes", 0) / MB / per,
        "operators.spill_mb": sums.get("spill_bytes", 0) / MB / per,
        "streaming.publish_failed": sums.get("tasks_failed", 0) / per,
        "operators.memo_builds": sum(sp["attrs"]["memo_builds"] for sp in spans) / per,
        "operators.memo_build_s": sum(sp["attrs"]["memo_build_s"] for sp in spans) / per,
    }


def stream_layers(launch, spans, dumps, json_bytes, rows_in):
    """Layer metrics of `stream` verb calls, per call: the verb's own
    --metrics dumps plus the listeners' micro-batch and job spans."""
    per = len(spans)
    m = []
    for d in dumps:
        with open(d) as f:
            m.append(json.load(f))
    msgs = sum(x["messages_published"] for x in m)
    rows = sum(x["rows_published"] for x in m)
    out_bytes = sum(x["bytes_published"] for x in m)
    mbs = [b for sp in spans for b in in_window(launch, sp, "microbatch")
           if b["attrs"]["rows"] > 0]
    batch_jobs = [j for sp in spans for j in children(launch, sp)
                  if j["attrs"]["batch_id"] >= 0]
    # the publish job runs ArrowIpc's mapPartitions; with --seq-col every
    # other job of a micro-batch is the seq column's (its first one also
    # materializes the cached parse)
    seq_jobs = [j for j in batch_jobs if "mapPartitions" not in j["label"].split(",")]
    return {
        "sources.parse_core_ms": sum(x["parse_ms_total"] for x in m) / per,
        "sources.json_mb_in": json_bytes / MB / per,
        "sources.rows_in": rows_in / per,
        "operators.seq_ms": sum(dur(j) for j in seq_jobs) / per,
        "operators.seq_jobs": len(seq_jobs) / per,
        "ipc.serialize_core_ms": sum(x["serialize_ms_total"] for x in m) / per,
        "ipc.messages": msgs / per,
        "ipc.rows_per_message": rows / max(msgs, 1),
        "ipc.bytes_per_message": out_bytes / max(msgs, 1),
        "ipc.out_bytes_per_json_byte": out_bytes / max(json_bytes, 1),
        "streaming.publish_core_ms": sum(x["publish_ms_total"] for x in m) / per,
        "streaming.publish_calls": msgs / per,
        "streaming.microbatches": len(mbs) / per,
        "streaming.microbatch_ms_p50": stats.percentile([dur(b) for b in mbs], 50),
        "streaming.microbatch_ms_p99": stats.percentile([dur(b) for b in mbs], 99),
        "streaming.trigger_overhead_ms": stats.median(
            [dur(b) - b["attrs"]["add_batch_ms"] for b in mbs]),
        "streaming.jobs_per_microbatch": len(batch_jobs) / max(len(mbs), 1),
        "streaming.rows_per_microbatch": stats.median([b["attrs"]["rows"] for b in mbs]),
    }


def trace_overhead(res, traced, untraced):
    """Traced minus untraced end-to-end numbers of the same launch."""
    for k in ("cpu_ms_per_mb", "latency_p50_ms"):
        res.layers[f"trace.{k}_delta"] = traced[k] - untraced[k]


# ---------------------------------------------------------------- trip_convert

def trip_launch(cp, work, tag, inp, measured, trace, res, cpus=None):
    """One JVM: a warm-up conversion of one file (JIT, codegen), then
    `measured` conversions of the whole input back to back, each with a
    fresh checkpoint and output directory. Every output is checked, against
    the generator's row digest when `inp` has one."""
    calls, outs, dumps = [], [], []
    for i in range(measured + 1):
        d = os.path.join(work, f"{tag}-{i}")
        calls.append(["stream", "--in-dir", inp["warm"] if i == 0 else inp["dir"],
                      "--checkpoint", d + "/ckpt", "--out", d + "/out",
                      "--schema", "trip", "--seq-col", "--max-rows", str(TRIP_MAX_ROWS),
                      "--max-ipc", str(TRIP_MAX_IPC)]
                     + (["--metrics", d + "/metrics.json", "--latency", d + "/latency.json"]
                        if trace else []))
        outs.append(d + "/out")
        dumps.append(d + "/metrics.json")
    args = [a for c in calls for a in c + ["--"]][:-1]
    launch = jvm.run(cp, os.path.join(work, tag), args, trace, cpus)
    spans = spans_named(launch, "stream")
    out = {"launch": launch, "spans": spans[1:], "dumps": dumps[1:],
           "secs": [], "lat": [], "cpu": []}
    for i, (sp, d) in enumerate(zip(spans, outs)):
        msgs = checks.read_messages(d)
        if i == 0 or inp["digest"] is None:
            res.op(checks.message_limits(msgs, TRIP_MAX_ROWS, TRIP_MAX_IPC)
                   + ([] if msgs else ["no message published"]))
        else:
            res.op(checks.trip(msgs, inp["digest"], TRIP_MAX_ROWS, TRIP_MAX_IPC))
        if i > 0 and msgs:
            done = [m[1] - sp["start_ms"] for m in msgs]
            out["lat"] += done
            out["secs"].append(max(done) / 1000.0)
            out["cpu"].append(sp["attrs"]["cpu_ms"])
    mb = inp["bytes"] / MB
    out["e2e"] = {"cpu_ms_per_mb": stats.median(out["cpu"]) / mb,
                  "throughput_mb_per_s": stats.median([mb / s for s in out["secs"]]),
                  "latency_p50_ms": stats.percentile(out["lat"], 50),
                  "latency_p99_ms": stats.percentile(out["lat"], 99)}
    return out


def trip_convert(cp, work, seed, seconds, trace, res):
    in_dir = os.path.join(work, "in")
    json_bytes, digest = gen.write_trip(seed, TRIP_ROWS, TRIP_FILES, in_dir)
    one = os.path.join(work, "one")
    os.makedirs(one)
    shutil.copy(sorted(glob.glob(in_dir + "/*.json"))[0], one)
    inp = {"dir": in_dir, "warm": one, "digest": digest, "bytes": json_bytes}
    measured = max(2, seconds // 7)
    main = trip_launch(cp, work, "main", inp, measured, trace, res)
    launch = main["launch"]
    for k, v in main["e2e"].items():
        res.put(k, v)
    res.put("convert_mb_per_s", main["e2e"]["throughput_mb_per_s"], "MB/s")
    res.put("rss_peak_mb", launch.rss_mb, "MB")
    res.put("setup_s", launch.setup_cpu_s, "s")
    res.put("setup_wall_s", launch.setup_wall_s, "s")
    if not trace:
        return
    res.layers.update(session_layers(launch, main["spans"]))
    res.layers.update(stream_layers(launch, main["spans"], main["dumps"],
                                    json_bytes * measured, TRIP_ROWS * measured))
    # single-core scaling baseline: the same launch at one CPU, converting
    # one of the four files; efficiency compares seconds per MB
    one_mb = os.path.getsize(glob.glob(one + "/*.json")[0])
    one_cpu = trip_launch(cp, work, "cpu1", dict(inp, dir=one, bytes=one_mb, digest=None),
                          1, True, res, cpus="1")
    res.layers["scaling.parallel_efficiency"] = (
        stats.median(one_cpu["secs"]) / one_mb
        / (stats.median(main["secs"]) / json_bytes) / int(jvm.cpus()))
    res.layers["scaling.parse_core_ms_1cpu"] = stream_layers(
        one_cpu["launch"], one_cpu["spans"], one_cpu["dumps"], one_mb,
        TRIP_ROWS / TRIP_FILES)["sources.parse_core_ms"] * TRIP_FILES
    untraced = trip_launch(cp, work, "untraced", inp, measured, False, res)
    trace_overhead(res, main["e2e"], untraced["e2e"])


# --------------------------------------------------------------- events_stream

def event_plan(seconds):
    """Ladder steps: warm-up, then each rate. The warm-up and the nominal
    step run twice as long as the others: the JIT is still settling for the
    first few seconds, and the nominal percentiles should rest on more
    micro-batches."""
    unit = max(1.0, seconds / 10.0)
    steps = [(WARMUP_RATE, 2 * unit)] + [(r, 2 * unit if r == NOMINAL_RATE else unit)
                                         for r in LADDER]
    return feeder.schedule(steps)


def events_launch(cp, work, tag, seed, seconds, trace, res):
    due, bounds = event_plan(seconds)
    vals = gen.event_values(seed, len(due))
    d = os.path.join(work, tag)
    call = ["stream", "--host", "127.0.0.1", "--port", None, "--out", d + "/out",
            "--schema-ddl", gen.EVENT_DDL, "--max-rows", str(EVENT_MAX_ROWS),
            "--idle-timeout-ms", "3000"]
    if trace:
        call += ["--metrics", d + "/metrics.json", "--latency", d + "/latency.json"]
    fd = feeder.Feeder()
    call[4] = str(fd.port)
    try:
        proc, spawn, rep, log = jvm.start(cp, d, call, trace)
        try:
            accepted = fd.accept(120, lambda: proc.poll() is None)
            cpu = jvm.proc_cpu_s(proc.pid)
            t0_ms, sent, nbytes, cpu_marks = fd.feed(
                due, vals, [lo for lo, _, _ in bounds], lambda: jvm.proc_cpu_s(proc.pid))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        launch = jvm.finish(proc, spawn, rep, log)
    finally:
        fd.close()
    bad, failed, done = checks.events(checks.read_messages(d + "/out"), len(due), due,
                                      vals, EVENT_MAX_ROWS)
    res.attempted += len(due)
    res.failed += failed if failed or not bad else 1
    res.problems += bad
    ok = done > 0
    due_ms = t0_ms + due / 1000.0
    lat = done - due_ms
    steps = {}
    for k, (lo, hi, rate) in list(enumerate(bounds))[1:]:
        m = ok[lo:hi]
        good = bool(m.all()) and stats.step_ok(lat[lo:hi][m], due_ms, done[ok],
                                               due_ms[hi - 1], rate, LIMIT_MS)
        p50, p99 = ((stats.percentile(lat[lo:hi][m], 50), stats.percentile(lat[lo:hi][m], 99))
                    if m.any() else (0.0, 0.0))
        # the JVM's CPU while the step was fed, per MB sent in it
        step_mb = sum(len(gen.event_line(e, int(due[e]), vals)) for e in range(lo, hi)) / MB
        steps[rate] = {"p50": p50, "p99": p99, "ok": good, "mb": step_mb,
                       "cpu_ms_per_mb": (cpu_marks[k + 1] - cpu_marks[k]) * 1000 / step_mb}
    sustained = max([rate for rate in LADDER if steps[rate]["ok"]], default=0)
    paced = slice(bounds[1][0], len(due))
    nominal = steps[NOMINAL_RATE]
    paced_mb = sum(st["mb"] for st in steps.values())
    return {"launch": launch, "setup_wall_s": (accepted - spawn) / 1000.0, "setup_cpu_s": cpu,
            "steps": steps, "sustained": sustained,
            "e2e": {"cpu_ms_per_mb": (cpu_marks[-1] - cpu_marks[1]) * 1000 / paced_mb,
                    "latency_p50_ms": nominal["p50"], "latency_p99_ms": nominal["p99"],
                    "throughput_mb_per_s": sustained * nbytes / len(due) / MB},
            "late_p99": stats.percentile(stats.lateness_ms(due[paced], sent[paced]), 99),
            "backlog_peak": int(stats.backlog(due_ms[paced], done[ok],
                                              np.sort(done[ok])).max(initial=0)),
            "nbytes": nbytes, "n": len(due), "spans": spans_named(launch, "stream"),
            "dumps": [d + "/metrics.json"]}


def events_stream(cp, work, seed, seconds, trace, res):
    main = events_launch(cp, work, "main", seed, seconds, trace, res)
    for k, v in main["e2e"].items():
        res.put(k, v)
    res.put("rss_peak_mb", main["launch"].rss_mb, "MB")
    for rate, st in main["steps"].items():
        res.put(f"latency_p50_ms_at_{rate}", st["p50"], "ms")
        res.put(f"latency_p99_ms_at_{rate}", st["p99"], "ms")
        res.put(f"meets_limit_at_{rate}", st["ok"], "bool")
        res.put(f"cpu_ms_per_mb_at_{rate}", st["cpu_ms_per_mb"], "ms/MB")
    res.put("sustained_events_per_s", main["sustained"], "events/s")
    res.put("feeder_late_ms_p99", main["late_p99"], "ms")
    res.put("setup_s", main["setup_cpu_s"], "s")
    res.put("setup_wall_s", main["setup_wall_s"], "s")
    if not trace:
        return
    launch, spans = main["launch"], main["spans"]
    res.layers.update(session_layers(launch, spans))
    res.layers.update(stream_layers(launch, spans, main["dumps"], main["nbytes"], main["n"]))
    res.layers["streaming.backlog_peak_events"] = main["backlog_peak"]
    res.layers["streaming.feeder_late_ms_p99"] = main["late_p99"]
    untraced = events_launch(cp, work, "untraced", seed, seconds, False, res)
    trace_overhead(res, main["e2e"], untraced["e2e"])


# --------------------------------------------------------------- corpus_curate

def curate_run(cp, work, tag, corpus, plants, trace, res, stages=False):
    """One JVM running the curate verb on a fresh copy of the corpus (the
    operators memoize per JVM and input directory, and a user curates each
    corpus once), then with `stages` the curate stages on another copy."""
    def fresh(t):
        d = os.path.join(work, t)
        shutil.copytree(corpus, d + "/in")
        return d, ["--in", d + "/in", "--eval", d + "/in/eval.parquet", "--out", d + "/out"]
    d, args = fresh(tag)
    call = ["curate"] + args
    if stages:
        call += ["--", "curate-stages"] + fresh(tag + "-stages")[1]
    launch = jvm.run(cp, d, call, trace)
    span = spans_named(launch, "curate")[0]
    res.op(checks.curate(d + "/out", plants, span["attrs"]["memo_builds"]))
    lat = []
    for part in glob.glob(d + "/out/*.parquet"):
        lat += [os.stat(part).st_mtime_ns / 1e6 - span["start_ms"]] * \
            pq.ParquetFile(part).metadata.num_rows
    secs, mb = dur(span) / 1000.0, plants["text_bytes"] / MB
    return {"launch": launch, "span": span,
            "e2e": {"cpu_ms_per_mb": span["attrs"]["cpu_ms"] / mb,
                    "throughput_mb_per_s": mb / secs,
                    "latency_p50_ms": stats.percentile(lat, 50),
                    "latency_p99_ms": stats.percentile(lat, 99),
                    "curate_docs_per_s": plants["docs"] / secs}}


def corpus_curate(cp, work, seed, seconds, trace, res):
    corpus = os.path.join(work, "corpus")
    plants = gen.write_corpus(seed, CURATE_DOCS, corpus)
    n = 1 if trace else max(1, seconds // 30)
    runs = [curate_run(cp, work, f"curate-{i}", corpus, plants, trace, res, stages=trace)
            for i in range(n)]
    for k in runs[0]["e2e"]:
        res.put(k, stats.median([r["e2e"][k] for r in runs]))
    res.put("rss_peak_mb", stats.median([r["launch"].rss_mb for r in runs]), "MB")
    res.put("setup_s", stats.median([r["launch"].setup_cpu_s for r in runs]), "s")
    res.put("setup_wall_s", stats.median([r["launch"].setup_wall_s for r in runs]), "s")
    if not trace:
        return
    launch, span = runs[0]["launch"], runs[0]["span"]
    res.layers.update(session_layers(launch, [span]))
    for name in ("quality", "dedup", "decontam", "split", "write"):
        res.layers[f"operators.{name}_s"] = sum(
            dur(s) for s in spans_named(launch, name)) / 1000.0
    st = launch.report["stages"]
    res.layers["operators.candidate_pairs"] = st["candidate_pairs"]
    res.layers["operators.pair_precision"] = (
        st["pairs_at_threshold"] / max(st["candidate_pairs"], 1))
    untraced = curate_run(cp, work, "untraced", corpus, plants, False, res)
    trace_overhead(res, runs[0]["e2e"], untraced["e2e"])


WORKLOADS = {"trip_convert": trip_convert, "events_stream": events_stream,
             "corpus_curate": corpus_curate}


def measure(cp, workload, seed, seconds, trace):
    """One workload: measure, print every value, then the result line."""
    work = os.path.join(build.build_dir(), "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    res = Result()
    steal0 = jvm.steal_s()
    try:
        WORKLOADS[workload](cp, work, seed, seconds, trace, res)
    finally:
        jvm.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    res.put("failed_ratio", res.failed / max(res.attempted, 1), "ratio")
    res.put("host_steal_s", jvm.steal_s() - steal0, "s")
    for p in res.problems[:20]:
        print(f"CHECK FAILED: {p}")
    for k, v in res.values.items():
        print(f"{workload} {k} {v:.4f} {res.units[k]}")
    names = LAYERS if trace else E2E
    source = res.layers if trace else res.values
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in names.items()}
    if trace:
        for k, m in metrics.items():
            print(f"{workload} {k} {m['value']:.4f} {m['unit']}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build.build(".")
    if not selftest.run():
        sys.exit("benchmark self-tests failed")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for w in sorted(WORKLOADS) if a.workload == "all" else [a.workload]:
        measure(cp, w, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    main()
