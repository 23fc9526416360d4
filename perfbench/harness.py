"""Run plumbing shared by the workloads: scratch tree, Spark session,
outside-in probes (spans, Spark jobs, manifest snapshots, RSS, GC) and the
order-insensitive digest of a sink's rows.

Nothing here touches the package's internals: every number comes from a
public call (``get_spark``, ``SparkContext.statusTracker``,
``StreamingQuery.recentProgress``, ``cdc.commit.read_manifest`` /
``bucket_paths`` / ``dir_bytes``), from files the program wrote, or from
``/proc``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Scratch:
    """Fresh per-run tree under the checkout; removed by ``close``."""

    def __init__(self, root: str):
        self.root = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.root)

    def path(self, *parts: str, make: bool = True) -> str:
        p = os.path.join(self.root, *parts)
        if make:
            os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def start_spark(scratch: Scratch, master: str):
    """The program's own session factory with its defaults; only the
    scratch locations (JVM temp, shuffle spill, warehouse) are pointed
    into the run's tree so the run writes nothing outside the checkout."""
    tmp = scratch.path("tmp")
    os.environ["TMPDIR"] = tmp  # python workers and tempfile users
    # the environment variable wins over spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = scratch.path("spark-local")
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from realtime_change_data_capture_streaming_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.local.dir": scratch.path("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": scratch.path("warehouse", make=False),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this driver process plus its JVM child."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


class Tracer:
    """In-memory spans (name, start, end, parent, trace id) plus counters.
    A disabled tracer records nothing and sets no Spark job groups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._stack: list[int] = []
        self._jobs = 0

    @contextmanager
    def span(self, name: str, trace_id, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace_id": str(trace_id),
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def spark_call(self, spark, name: str, trace_id, **attrs):
        """A span around one call into the program that also counts the
        Spark jobs the call ran (its own job group)."""
        if not self.enabled:
            yield {}
            return
        sc = spark.sparkContext
        self._jobs += 1
        group = f"perfbench-{self._jobs}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name, trace_id, **attrs) as rec:
                yield rec
        finally:
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("perfbench-idle", "idle")

    def add(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# ---- sink snapshots (cdc.commit public helpers) -----------------------


def manifest(path: str) -> dict | None:
    from realtime_change_data_capture_streaming_spark.cdc import commit

    return commit.read_manifest(path)


def live_versions(m: dict | None) -> int:
    return len(set(m.get("buckets", {}).values())) if m else 0


def touched_buckets(before: dict | None, after: dict | None) -> int:
    """Bucket entries the commit repointed (a merge's rewritten buckets)."""
    if not after:
        return 0
    old = (before or {}).get("buckets", {})
    return sum(1 for b, v in after.get("buckets", {}).items() if old.get(b) != v)


def new_version_bytes_rows(path: str, before: dict | None, after: dict | None) -> tuple[int, int]:
    """Bytes and rows of the bucket files the commit published."""
    import pyarrow.parquet as pq

    from realtime_change_data_capture_streaming_spark.cdc import commit

    if not after or (before and before["seq"] == after["seq"]):
        return 0, 0
    vdir = os.path.join(path, after["version"])
    rows = 0
    for dirpath, _d, files in os.walk(vdir):
        for fn in files:
            if fn.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
    return commit.dir_bytes(vdir), rows


def sink_files_bytes(path: str) -> tuple[int, int]:
    """Data files and bytes the live manifest references."""
    from realtime_change_data_capture_streaming_spark.cdc import commit

    m = commit.read_manifest(path)
    if not m:
        return 0, 0
    files = size = 0
    for vdir, bids in commit.bucket_paths(path, m).items():
        for b in bids:
            bdir = f"{vdir}/_bucket={b}"
            files += sum(1 for fn in os.listdir(bdir) if fn.endswith(".parquet"))
            size += commit.dir_bytes(bdir)
    return files, size


# ---- correctness -------------------------------------------------------


def canonical_line_col(df):
    """Spark column rendering a ``sink.read()`` row exactly like
    ``wire.canonical_line`` does (column order, NULL as \\N)."""
    from pyspark.sql import functions as F

    from wire import NULL

    cols = []
    for c in df.columns:
        v = F.date_format(c, "yyyy-MM-dd HH:mm:ss") if c == "timestamp" else F.col(c).cast("string")
        cols.append(F.coalesce(v, F.lit(NULL)))
    return F.concat_ws("|", *cols)


def frame_digest(df) -> tuple[int, int, int]:
    """(rows, sum crc32(line), sum crc32(line+'#')) computed in one job."""
    from pyspark.sql import functions as F

    line = canonical_line_col(df)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(line.cast("binary"))).alias("s1"),
        F.sum(F.crc32(F.concat(line, F.lit("#")).cast("binary"))).alias("s2"),
    ).collect()[0]
    return int(r["n"]), int(r["s1"] or 0), int(r["s2"] or 0)


def frame_lines(df) -> list[str]:
    return [r[0] for r in df.select(canonical_line_col(df)).collect()]
