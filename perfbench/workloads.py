"""The benchmark's workloads: ``backfill`` and ``steady``.

Each workload builds its inputs from the seed (``wire``), sets up the
program (session, preload, warm-up: ``setup_s``) and measures the write
path with tracing off for the given seconds, checking the sink against
the closed-form expected state.  A traced run then repeats the write
path through the benchmark's own spans and serves point lookups from
the sink it left behind, for the per-layer numbers.  See README.md.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

import harness as H
import wire
from harness import median, percentile

TAIL_Q = 90  # tail percentile; a run has >= 100 freshness samples (README)

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """Per-run state: seed, scratch tree, session, tracer, correctness."""

    def __init__(self, args, checkout: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.corrupt = args.corrupt_expected
        self.master = args.master
        self.checkout = checkout
        self.scratch = H.Scratch(checkout)
        self.tracer = H.Tracer(enabled=False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}

    def start(self) -> None:
        self.spark, self.layer["session.start_s"] = H.start_spark(self.scratch, self.master)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def expect(self, digest):
        """Expected digest, deliberately wrong under --corrupt-expected
        (the benchmark's own tests use it to prove mismatches fail)."""
        return (digest[0] + 1, *digest[1:]) if self.corrupt else digest

    def close(self) -> None:
        """Stop the streams and the session, then the JVM itself (it exits
        when its stdin closes) and wait for it, then drop the scratch tree."""
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            jvm = self.spark.sparkContext._gateway.proc
            self.spark.stop()
            jvm.stdin.close()
            jvm.wait(timeout=60)
        self.scratch.close()


# ---- shared streaming helpers -----------------------------------------


def write_files(dirpath: str, files: list[list[wire.Change]], mode: str, prefix: str) -> list[str]:
    os.makedirs(dirpath, exist_ok=True)
    names = []
    for i, chs in enumerate(files):
        name = f"{prefix}-{i:05d}.json"
        with open(os.path.join(dirpath, name), "w") as f:
            f.write("\n".join(wire.envelope(c, mode) for c in chs) + "\n")
        names.append(name)
    return names


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's checkpoint log."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return out
    for name in names:
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit-log entry was written (the
    end of the batch: the sink merge is done before Spark commits)."""
    d = os.path.join(ckpt, "commits")
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in names if n.isdigit()}


def visible_at(ckpt: str, names: list[str]) -> dict[str, float] | None:
    """Wall time each file became visible in the sink, or None while any
    of them is not committed yet."""
    log = source_log(ckpt)
    commits = commit_times(ckpt)
    out = {}
    for n in names:
        b = log.get(n)
        if b is None or b not in commits:
            return None
        out[n] = commits[b]
    return out


def wait_visible(ckpt: str, names: list[str], query, timeout_s: float) -> dict[str, float]:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        v = visible_at(ckpt, names)
        if v is not None:
            return v
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.02)
    raise TimeoutError(f"{len(names)} files not visible after {timeout_s}s")


def progress_breakdown(query, run: Run) -> None:
    """Micro-batch timings from ``StreamingQuery.recentProgress``."""
    ps = [p for p in query.recentProgress if "addBatch" in p["durationMs"]]
    if not ps:
        return
    dm = [p["durationMs"] for p in ps]
    trig = [d.get("triggerExecution", 0) for d in dm]
    run.layer.update(
        {
            "streaming.batches": len(ps),
            "streaming.trigger_ms_p50": median(trig),
            "streaming.trigger_ms_tail": percentile(trig, TAIL_Q),
            "streaming.planning_ms_p50": median([d.get("queryPlanning", 0) for d in dm]),
            "streaming.source_ms_p50": median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dm]),
            "streaming.wal_ms_p50": median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm]),
            "streaming.addbatch_ms_p50": median([d.get("addBatch", 0) for d in dm]),
        }
    )


def start_stream(run: Run, parsed, sink, ckpt: str, trigger: dict | None, traced: bool):
    """Untraced: the program's own ``apply_changes_stream``.  Traced: the
    same stream through the benchmark's ``foreachBatch``, which calls the
    public ``merge`` then ``maybe_compact_sink`` (the order
    ``apply_changes_stream`` uses) inside spans."""
    from realtime_change_data_capture_streaming_spark.cdc import apply_changes_stream
    from realtime_change_data_capture_streaming_spark.cdc.apply_changes import maybe_compact_sink
    from realtime_change_data_capture_streaming_spark.cdc.commit import ConcurrentCommitError

    if not traced:
        return apply_changes_stream(parsed, sink, ckpt, trigger=trigger)
    tr, spark = run.tracer, run.spark

    def batch(df, batch_id):
        with tr.span("streaming.batch", batch_id) as brec:
            t = time.perf_counter()
            m0 = H.manifest(sink.path)
            tr.sample("commit.manifest_read_ms", (time.perf_counter() - t) * 1000)
            with tr.spark_call(spark, "merge", batch_id) as rec:
                try:
                    sink.merge(df)
                except ConcurrentCommitError:
                    tr.add("commit.conflicts")
                    raise
            m1 = H.manifest(sink.path)
            nbytes, nrows = H.new_version_bytes_rows(sink.path, m0, m1)
            rec.update(buckets_touched=H.touched_buckets(m0, m1), bytes=nbytes, rows=nrows)
            with tr.spark_call(spark, "compact", batch_id) as crec:
                ran = maybe_compact_sink(sink)
            crec["ran"] = ran
            if ran:
                m2 = H.manifest(sink.path)
                crec["bytes"] = H.new_version_bytes_rows(sink.path, m1, m2)[0]
            m_end = H.manifest(sink.path)
            tr.sample("commit.versions_live", H.live_versions(m_end))
            brec["commits"] = (m_end["seq"] if m_end else -1) - (m0["seq"] if m0 else -1)

    writer = parsed.writeStream.foreachBatch(batch).option("checkpointLocation", ckpt).outputMode("update")
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def merge_layers(run: Run, events_by_batch: dict[int, int]) -> None:
    """Per-layer numbers of the traced stream's merge/compact spans."""
    tr = run.tracer
    merges = [s for s in tr.spans if s["name"] == "merge" and "end" in s]
    if not merges:
        return
    busy = tr.durations_ms("merge")
    rows = sum(s.get("rows", 0) for s in merges)
    events = sum(events_by_batch.get(int(s["trace_id"]), 0) for s in merges)
    comp = [s for s in tr.spans if s["name"] == "compact" and s.get("ran")]
    comp_ms = [(s["end"] - s["start"]) * 1000 for s in comp]
    run.layer.update(
        {
            "merge.calls": len(merges),
            "merge.busy_ms_p50": median(busy),
            "merge.busy_ms_tail": percentile(busy, TAIL_Q),
            "merge.jobs_per_call": median([s["jobs"] for s in merges]),
            "merge.buckets_touched_p50": median([s["buckets_touched"] for s in merges]),
            "merge.rows_written_per_event": rows / events if events else 0.0,
            "merge.bytes_written": sum(s.get("bytes", 0) for s in merges),
            "compact.runs": len(comp),
            "compact.busy_ms_max": max(comp_ms, default=0.0),
            "compact.bytes_rewritten": sum(s.get("bytes", 0) for s in comp),
            "commit.versions_live_max": max(tr.samples.get("commit.versions_live", [0])),
            "commit.manifest_read_ms_p50": median(tr.samples.get("commit.manifest_read_ms", [])),
            "commit.count": sum(s.get("commits", 0) for s in tr.spans if s["name"] == "streaming.batch"),
            "commit.conflicts": tr.counters.get("commit.conflicts", 0),
        }
    )


def sink_layers(run: Run, sink_path: str) -> None:
    files, size = H.sink_files_bytes(sink_path)
    run.layer["sink.files"] = files
    run.layer["sink.table_bytes"] = size
    run.layer["commit.versions_live_max"] = max(
        run.layer.get("commit.versions_live_max", 0), H.live_versions(H.manifest(sink_path))
    )


def check_state(run: Run, sink, state, what: str) -> None:
    got = H.frame_digest(sink.read())
    want = run.expect(wire.state_digest(state))
    run.check(got == want, f"{what}: sink digest {got} != expected {want}")


# ---- serve phase (traced runs: the read side of both workloads) --------

K_MULTI = 32  # keys of the multi-key lookup


class Probes:
    """Seeded point-lookup mix over a known state: 40% hot keys (recently
    changed), 30% cold, 15% deleted (must be absent), 15% never seen."""

    def __init__(self, seed: int, state, hot_keys):
        self.rng = random.Random(seed)
        self.rows = wire.live_rows(state)
        hot = sorted({k for k in hot_keys if k in self.rows})
        cold = sorted(set(self.rows) - set(hot))
        dead = sorted(k for k, v in state.items() if v[2] is None)
        unseen = [f"zz-never-{self.rng.getrandbits(48):012x}" for _ in range(500)]
        self.mix = [(p, pool) for p, pool in ((0.4, hot), (0.3, cold), (0.15, dead), (0.15, unseen)) if pool]

    def pick(self) -> str:
        x = self.rng.random() * sum(p for p, _ in self.mix)
        for p, pool in self.mix:
            if x < p:
                return self.rng.choice(pool)
            x -= p
        return self.rng.choice(self.mix[-1][1])

    def want(self, keys) -> list[str]:
        return sorted(wire.canonical_line(k, self.rows[k]) for k in dict.fromkeys(keys) if k in self.rows)


def lookup(run: Run, sink, probes: Probes, keys: list[str], tag: str) -> float:
    """One checked ``lookup`` call; returns its latency in ms."""
    with run.tracer.spark_call(run.spark, tag, f"req-{run.attempted}") as rec:
        t = time.perf_counter()
        got = sorted(H.frame_lines(sink.lookup(keys)))
        ms = (time.perf_counter() - t) * 1000
    rec["keys"] = list(keys)
    want = probes.want(keys) + (["<corrupted>"] if run.corrupt else [])
    run.check(got == want, f"lookup {keys[:2]}: got {got[:1]} want {want[:1]}")
    return ms


def serve_loop(run: Run, sink, probes: Probes, seconds: float):
    """Closed loop, one client: four k=1 GETs then one k=32 lookup,
    repeated for ``seconds``.  Returns (k=1 ms, k=32 ms)."""
    k1, k32 = [], []
    t_end = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < t_end or not k1:
        n += 1
        if n % 5 == 0:
            k32.append(lookup(run, sink, probes, [probes.pick() for _ in range(K_MULTI)], "lookup.k32"))
        else:
            k1.append(lookup(run, sink, probes, [probes.pick()], "lookup.k1"))
    return k1, k32


def late_batch(run: Run, sink, state, changes: list[wire.Change], mode: str):
    """Merge one late batch directly (the batch API), then read the change
    feed of exactly that commit and check it.  Returns the new state."""
    from realtime_change_data_capture_streaming_spark.cdc import parse_envelope

    d = run.scratch.path("late")
    write_files(d, [changes], mode, "late")
    seq0 = H.manifest(sink.path)["seq"]
    sink.merge(parse_envelope(run.spark.read.text(d), decimal_mode=mode))
    after = wire.fold(changes, dict(state))
    t = time.perf_counter()
    feed = {(r[0], r[1]) for r in sink.changes(seq0).select(sink.key_col, "_change_type").collect()}
    run.layer["changes.feed_s"] = time.perf_counter() - t
    want = expected_feed(state, after)
    if run.corrupt:
        want = want | {("<corrupted>", "insert")}
    run.check(feed == want, f"changes feed: {len(feed)} rows vs {len(want)} expected")
    return after


def reads(run: Run, sink, state, hot_keys, seconds: float) -> None:
    """The traced serve phase, ``seconds`` long: one full-table aggregate
    checked against the expected state, then the lookup loop."""
    t_end = time.perf_counter() + seconds
    t = time.perf_counter()
    check_state(run, sink, state, "full-table aggregate")
    run.layer["serve.scan_s"] = time.perf_counter() - t
    k1, k32 = serve_loop(run, sink, Probes(run.seed, state, hot_keys), t_end - time.perf_counter())
    calls = [s for s in run.tracer.spans if s["name"] in ("lookup.k1", "lookup.k32")]
    run.layer.update(
        {
            "lookup.samples": len(k1),
            "lookup.k1_ms_p50": median(k1),
            "lookup.k1_ms_tail": percentile(k1, TAIL_Q),
            "lookup.k32_ms_p50": median(k32) if k32 else 0.0,
            "lookup.jobs_per_call": median([s["jobs"] for s in calls]),
            "lookup.buckets_read_p50": buckets_read(run.spark, [s["keys"] for s in calls], sink.current_n_buckets()),
        }
    )


def expected_feed(old, new) -> set[tuple[str, str]]:
    """Delta-CDF rows ``changes(from_seq)`` must emit between two states
    (key -> (lsn, ts_ms, image or None))."""
    out = set()
    for k in set(old) | set(new):
        o, n = old.get(k), new.get(k)
        if o == n or n is None:
            continue
        was_dead = o is None or o[2] is None
        if was_dead and n[2] is not None:
            out.add((k, "insert"))
        elif not was_dead and n[2] is None:
            out.add((k, "delete"))
        elif not was_dead and (o[0], o[1]) != (n[0], n[1]):
            out.add((k, "update_postimage"))
    return out


def buckets_read(spark, key_sets: list[list[str]], n_buckets: int) -> float:
    """Median buckets a traced lookup's keys map to under the sink's
    documented layout, ``pmod(murmur3(key), n_buckets)``."""
    from pyspark.sql import functions as F

    rows = [(i, k) for i, keys in enumerate(key_sets) for k in keys]
    per_call = (
        spark.createDataFrame(rows, "call int, key string")
        .groupBy("call")
        .agg(F.countDistinct(F.pmod(F.hash("key"), F.lit(n_buckets))).alias("b"))
        .collect()
    )
    return median([r["b"] for r in per_call])


# ---- backfill ----------------------------------------------------------

BACKFILL_KEYS = 8_000  # ~28k envelopes per replay
BACKFILL_FILE_EVENTS = 500
WARM_KEYS = 2_000  # warm-up replay: pays the cold JVM's first-query cost


def backfill(run: Run) -> dict:
    """Replay from earliest: drain a fixed precise-mode backlog with
    ``availableNow`` into an empty sink, again and again, for the seconds."""
    from realtime_change_data_capture_streaming_spark.cdc import parse_envelope
    from realtime_change_data_capture_streaming_spark.cdc.apply_changes import BucketedParquetSink
    from realtime_change_data_capture_streaming_spark.session import drain as await_drain

    def backlog(seed: int, n_keys: int, name: str):
        changes = wire.backfill_changes(seed, n_keys)
        delivered = wire.disorder(changes, random.Random(seed), 0.03, 0.05, 2 * BACKFILL_FILE_EVENTS)
        files = list(wire.chunks(delivered, BACKFILL_FILE_EVENTS))
        names = write_files(run.scratch.path(name), files, "precise", name)
        return run.scratch.path(name), names, files, len(delivered), wire.fold(delivered)

    warm = backlog(run.seed + 1_000_003, WARM_KEYS, "warm")
    main = backlog(run.seed, BACKFILL_KEYS, "backlog")
    inp, names, files, n_events, state = main

    t0 = time.perf_counter()
    run.start()
    spark = run.spark
    replays = 0

    def replay(bl, traced: bool):
        nonlocal replays
        replays += 1
        src, src_names, _files, n, want = bl
        sink = BucketedParquetSink(spark, run.scratch.path("sinks", f"s{replays}", make=False))
        ckpt = run.scratch.path("ckpt", f"c{replays}", make=False)
        parsed = parse_envelope(spark.readStream.text(src), decimal_mode="precise")
        start = time.time()
        q = start_stream(run, parsed, sink, ckpt, {"availableNow": True}, traced)
        await_drain(q, timeout_s=120)
        wall = time.time() - start
        vis = visible_at(ckpt, src_names)
        if vis is None:
            raise RuntimeError("availableNow replay ended with files not committed")
        check_state(run, sink, want, f"backfill replay {replays}")
        return sink, q, ckpt, n / wall, [(t - start) * 1000 for t in vis.values()]

    replay(warm, False)
    setup = time.perf_counter() - t0
    log("backfill: setup done")

    def ingest(modes: tuple[bool, ...]):
        """Replays for the seconds, cycling through the tracing modes
        (the traced run alternates, so both sides see the same JIT
        warm-up).  Returns the last replay and per-mode rates and
        per-file freshness."""
        rates = {m: [] for m in modes}
        fresh = {m: [] for m in modes}
        t_end = time.perf_counter() + run.seconds
        i = 0
        while i < len(modes) or time.perf_counter() < t_end:
            traced = modes[i % len(modes)]
            run.tracer.enabled = traced
            sink, q, ckpt, rate, vis_ms = replay(main, traced)
            rates[traced].append(rate)
            fresh[traced].extend(vis_ms)
            i += 1
        return sink, q, ckpt, rates, fresh

    sink, q, _ckpt, rates, fresh = ingest((False,))
    rates, fresh = rates[False], fresh[False]
    log(f"backfill replays/s {[round(r) for r in rates]}")
    out = {
        "setup_s": setup,
        "events_per_s": median(rates),
        "freshness_p50_ms": median(fresh),
        "freshness_tail_ms": percentile(fresh, TAIL_Q),
    }
    if run.trace:
        progress_breakdown(q, run)
        run.tracer = H.Tracer(enabled=True)
        t_sink, _q, t_ckpt, _r, t_fresh = ingest((True, False))
        run.tracer.enabled = True
        sizes = dict(zip(names, (len(f) for f in files)))
        per_batch: dict[int, int] = {}
        for n, b in source_log(t_ckpt).items():
            per_batch[b] = per_batch.get(b, 0) + sizes[n]
        merge_layers(run, per_batch)
        sink_layers(run, t_sink.path)
        run.layer["streaming.batch_events_p50"] = median(list(per_batch.values()))
        run.layer["trace.overhead_pct"] = (median(t_fresh[True]) / median(t_fresh[False]) - 1) * 100
        reads(run, t_sink, state, [], run.seconds)
        decode_layers(run, inp, n_events)
        run.layer["scaling.backfill_1core_events_per_s"] = one_core_rate(run)
    return out


def decode_layers(run: Run, inp: str, n_events: int) -> None:
    """``parse_envelope`` and ``apply_changes_batch`` are lazy, so their
    cost is timed by sending each layer's output to the ``noop`` sink."""
    from pyspark.sql import functions as F

    from realtime_change_data_capture_streaming_spark.cdc import apply_changes_batch, parse_envelope

    def noop_s(df) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return median(times)

    src = run.spark.read.text(inp)
    decode_s = noop_s(parse_envelope(src, decimal_mode="precise"))
    fold_s = noop_s(apply_changes_batch(parse_envelope(src, decimal_mode="precise")))
    corrupt = (
        parse_envelope(src, decimal_mode="precise", keep_corrupt=True)
        .filter(F.col("_corrupt").isNotNull())
        .count()
    )
    run.layer.update(
        {
            "decode.busy_s": decode_s,
            "decode.events_per_s": n_events / decode_s,
            "decode.corrupt_rows": corrupt,
            "fold.busy_s": max(0.0, fold_s - decode_s),
        }
    )


def one_core_rate(run: Run) -> float:
    """``events_per_s`` of the untraced backfill on ``local[1]``, in a child
    process (a session's master is fixed for the life of its JVM)."""
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", "backfill", "--seed", str(run.seed), "--seconds", "2",
        "--trace", "0", "--master", "local[1]",
    ]
    res = subprocess.run(cmd, cwd=run.checkout, capture_output=True, text=True, timeout=170)
    if res.returncode != 0:
        raise RuntimeError(f"local[1] backfill failed: {res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["events_per_s"]["value"]


# ---- steady ------------------------------------------------------------

STEADY_KEYS = 10_000
STEADY_FILES_PER_S = 10  # offered rate: 10 files/s x 20 events = 200 events/s
STEADY_FILE_EVENTS = 20
WARM_FILES = 6
LATE_EVENTS = 40  # the directly merged batch whose change feed is checked


class Publisher(threading.Thread):
    """Open-loop generator: publishes file i at t0 + i/rate by atomic
    rename into the watched directory, whatever the stream is doing."""

    def __init__(self, staged: str, watch: str, names: list[str], rate: float, t0: float):
        super().__init__(daemon=True)
        self.staged, self.watch, self.names = staged, watch, names
        self.interval, self.t0 = 1.0 / rate, t0
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []

    def run(self) -> None:
        for i, name in enumerate(self.names):
            due = self.t0 + i * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.staged, name), os.path.join(self.watch, name))
            self.due[name] = due
            self.late_ms.append((time.time() - due) * 1000)


def steady(run: Run, analytics_pass=None) -> dict:
    """Open loop for the seconds: small string-mode files at a fixed
    offered rate, applied by the default-trigger stream to a preloaded
    sink."""
    from realtime_change_data_capture_streaming_spark.cdc import parse_envelope
    from realtime_change_data_capture_streaming_spark.cdc.apply_changes import BucketedParquetSink

    mode = "string"
    gen = wire.UpdateStream(run.seed, STEADY_KEYS)
    staged = run.scratch.path("staged")
    watch = run.scratch.path("watch")
    write_files(run.scratch.path("preload"), [gen.preload], mode, "preload")
    warm_names = write_files(staged, [gen.next_file(STEADY_FILE_EVENTS) for _ in range(WARM_FILES)], mode, "a-warm")
    # a traced run splits the seconds into untraced, traced and untraced
    # phases, so the tracing overhead is not confounded with JIT warm-up
    n_files = STEADY_FILES_PER_S * run.seconds // (3 if run.trace else 1)

    def phase(prefix: str):
        files = [gen.next_file(STEADY_FILE_EVENTS) for _ in range(n_files)]
        files.append(gen.flush_held())
        names = write_files(staged, files, mode, prefix)
        return names, files, wire.fold(list(gen.preload) + gen.sent)

    phases = [phase(p) for p in (("b-plain", "c-traced", "d-plain") if run.trace else ("b-plain",))]
    late = gen.next_file(LATE_EVENTS, hold_frac=0.0) if run.trace else []

    log("steady: inputs built")
    t0 = time.perf_counter()
    run.start()
    spark = run.spark
    sink = BucketedParquetSink(spark, run.scratch.path("sink", make=False))
    sink.merge(parse_envelope(spark.read.text(run.scratch.path("preload")), decimal_mode=mode))
    log("steady: preloaded")
    ckpt = run.scratch.path("ckpt", make=False)

    def open_stream(traced: bool):
        parsed = parse_envelope(spark.readStream.text(watch), decimal_mode=mode)
        return start_stream(run, parsed, sink, ckpt, None, traced)

    q = open_stream(False)
    Publisher(staged, watch, warm_names, STEADY_FILES_PER_S, time.time()).run()
    wait_visible(ckpt, warm_names, q, 120)
    setup = time.perf_counter() - t0
    log("steady: setup done")

    def ingest(q, names, files, state):
        pub = Publisher(staged, watch, names, STEADY_FILES_PER_S, time.time() + 0.05)
        pub.start()
        pub.join(timeout=run.seconds + 60)
        vis = wait_visible(ckpt, names, q, 120)
        check_state(run, sink, state, "steady stream state")
        fresh = [(vis[n] - pub.due[n]) * 1000 for n in names]
        rate = sum(len(f) for f in files) / (max(vis.values()) - pub.t0)
        # files each batch left waiting: published before it ended, not in it
        ends = sorted(set(vis.values()))
        backlog = max((sum(1 for n in names if pub.due[n] <= e < vis[n]) for e in ends), default=0)
        return fresh, rate, backlog, pub

    names, files, state = phases[0]
    fresh, rate, backlog, pub = ingest(q, names, files, state)
    q.stop()
    log(f"steady batch ms {[p['durationMs'].get('triggerExecution') for p in q.recentProgress if 'addBatch' in p['durationMs']]}")
    out = {
        "setup_s": setup,
        "events_per_s": rate,
        "freshness_p50_ms": median(fresh),
        "freshness_tail_ms": percentile(fresh, TAIL_Q),
    }
    if run.trace:
        progress_breakdown(q, run)
        run.layer["streaming.backlog_files_max"] = backlog
        run.layer["generator.late_ms_max"] = max(pub.late_ms)
        run.tracer = H.Tracer(enabled=True)
        q = open_stream(True)
        names, files, state = phases[1]
        t_fresh, _rate, _backlog, _pub = ingest(q, names, files, state)
        q.stop()
        log_per_batch = source_log(ckpt)
        per_batch: dict[int, int] = {}
        for n, f in zip(names, files):
            per_batch[log_per_batch[n]] = per_batch.get(log_per_batch[n], 0) + len(f)
        merge_layers(run, per_batch)
        run.layer["streaming.batch_events_p50"] = median(list(per_batch.values()))
        run.tracer.enabled = False
        q = open_stream(False)
        u_fresh, _rate, _backlog, _pub = ingest(q, *phases[2])
        q.stop()
        run.tracer.enabled = True
        run.layer["trace.overhead_pct"] = (median(t_fresh) / median(fresh + u_fresh) - 1) * 100
        # the late batch arrives double-encoded, as after a connector
        # reconfiguration of decimal.handling.mode (cdc/config.py)
        state = late_batch(run, sink, phases[2][2], late, "double")
        sink_layers(run, sink.path)
        reads(run, sink, state, [c.key for f in files for c in f], run.seconds)
        if analytics_pass is not None:
            analytics_pass(run)
    return out
