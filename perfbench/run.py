#!/usr/bin/env python3
"""Dedup benchmark: end-to-end and per-layer metrics of the clip workloads.

    python3 perfbench/run.py --workload fuzzy_ref --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process, ``local[<cores>]`` with
cores from the CPU affinity mask, one pipeline job at a time (closed loop).

Set-up (timed as ``setup_s``): start the Spark session, generate the
workload's input from ``--seed`` into a parquet table (one file per core),
run the workload untimed as a warm-up pilot (twice for ``tiered_full``). The
pilot's removed-row count and digest must match ``expected.json`` when that
file has the seed.

``--trace 0``: until ``--seconds`` have passed, repeat the workload's cycle
of fresh runs, input table -> checkpointed removal set + cleaned table
written (``wall_s``), and resume runs after deleting every stage manifest
downstream of MinHashStage (``resume_s``); each metric is the median of its
runs. Every execution's removed set must equal the pilot's.

``--trace 1``: the session writes an uncompressed event log from the start;
after set-up, a traced fresh run between two untraced ones gives the
per-layer metrics (see tracing.py and eventlog.py).

The last stdout line is one JSON object: correct, attempted, failed, metrics.
Diagnostics (host probe, per-run times) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "wall_s": "s",
    "clips_per_s": "1/s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
    "ok_ratio": "ratio",
}

PER_LAYER_UNITS = {
    "minhash.busy_s": "s",
    "minhash.task_s": "s",
    "minhash.out_bytes": "bytes",
    "lsh.busy_s": "s",
    "lsh.task_s": "s",
    "lsh.max_bucket_size": "count",
    "lsh.colliding_buckets": "count",
    "edges.busy_s": "s",
    "edges.shuffle_bytes": "bytes",
    "edges.rows_out": "count",
    "connected_components.busy_s": "s",
    "connected_components.jobs": "count",
    "connected_components.edges_in": "count",
    "substring.busy_s": "s",
    "substring.shuffle_bytes": "bytes",
    "substring.verified_ratio": "ratio",
    "simhash.busy_s": "s",
    "simhash.keep_ratio": "ratio",
    "duplicates.busy_s": "s",
    "duplicates.remove_s": "s",
    "ids.busy_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.read_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.jobs": "count",
    "session.core_busy_ratio": "ratio",
    "session.gc_s": "s",
    "trace.overhead_s": "s",
}


# -- process hygiene ------------------------------------------------------------
def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolated_env(work: str) -> dict:
    """Environment and Spark conf that keep every file under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers import curator_spark whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["CURATOR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {
        # With reuse off (get_spark's default) every Arrow-UDF task forks a
        # worker that re-imports pandas/pyarrow/curator_spark: at these input
        # sizes that is over a third of each run and most of its spread.
        "spark.python.worker.reuse": "true",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A heap that starts at its maximum and is touched up front keeps the
        # JVM's resident size from following G1's run-to-run resizing, which
        # otherwise spreads peak_rss_mb by half its median between seeds.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }


def start_session(conf: dict, eventlog_dir: str | None = None):
    from curator_spark.session import get_spark

    conf = dict(conf)
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"local[{cores()}]", app_name="perfbench", extra_conf=conf)


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int, kids: dict | None = None) -> list:
    kids, out, todo = kids or _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_resident_bytes(pid: int) -> int:
    """Resident memory of the JVM ``pid`` started and of the JVM's Python
    workers: RSS for the JVM, which shares its pages with no one, and
    proportional set size (PSS) for the workers, so pages they share with
    the PySpark daemon they were forked from count once. Reading the JVM's
    PSS walks its whole pre-touched heap (about 35 ms a read on a 4-core
    host); its RSS costs a fraction of a millisecond. A process below the
    JVM that still runs the JVM's executable is one it is spawning (the
    chmod calls of Hadoop's local file system), still sharing its memory
    until it execs: skipped."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    total = 0
    for jvm in kids.get(pid, []):
        try:
            java = os.readlink(f"/proc/{jvm}/exe")
            with open(f"/proc/{jvm}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # it ended between listing and reading
        for c in descendants(jvm, kids):
            try:
                if os.readlink(f"/proc/{c}/exe") == java:
                    continue
                with open(f"/proc/{c}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and its
    Python workers), sampled from /proc while started."""

    def __init__(self, interval: float = 0.25):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_resident_bytes(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def steal_jiffies() -> int:
    """CPU time the hypervisor gave other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_probe() -> dict:
    """Diagnostic only: steal jiffies and a one-core matmul timing."""
    import numpy as np

    steal = steal_jiffies()
    a = np.random.default_rng(0).random((256, 256))
    t0 = time.perf_counter()
    for _ in range(20):
        a = a @ a
        a *= 1e-300
    return {"steal_jiffies": steal, "matmul_20x256_s": round(time.perf_counter() - t0, 4)}


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


# -- one execution -----------------------------------------------------------------
class Bench:
    def __init__(self, workload, seed: int, work: str):
        self.wl, self.seed, self.work = workload, seed, work
        self.runs = 0
        self.spark = None
        self.df = None
        self.ref = None  # (removed, digest) every execution must reproduce

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def new_run(self) -> tuple[str, str]:
        self.runs += 1
        return self.path(f"ckpt{self.runs}"), self.path(f"out{self.runs}")

    def check(self, out_path: str) -> tuple[int, str]:
        from outputs import OutputMismatch, removal_digest

        got = removal_digest(self.df, self.spark.read.parquet(out_path))
        if self.ref is not None and got != self.ref:
            raise OutputMismatch(f"removed set {got} != {self.ref}")
        return got

    def fresh(self, tracer=None) -> tuple:
        """Full run; returns (seconds, pipeline, checkpoint root)."""
        root, out = self.new_run()
        pipe = self.wl.pipeline(self.spark, root)
        t0 = time.perf_counter()
        self.wl.execute(pipe, self.df, out, tracer)
        dt = time.perf_counter() - t0
        self.check(out)
        return dt, pipe, root

    def resume(self, root: str) -> float:
        from workloads import drop_downstream_of_minhash

        drop_downstream_of_minhash(self.wl.fuzzy_root(root))
        _, out = self.new_run()
        pipe = self.wl.pipeline(self.spark, root)
        t0 = time.perf_counter()
        self.wl.execute(pipe, self.df, out)
        dt = time.perf_counter() - t0
        self.check(out)
        return dt


def expected_outputs(name: str, seed: int, rows: int):
    with open(os.path.join(HERE, "expected.json")) as f:
        rec = json.load(f).get(name, {})
    if rec.get("rows") != rows:
        return None
    hit = rec.get("seeds", {}).get(str(seed))
    return tuple(hit) if hit else None


def setup(b: Bench, conf: dict, eventlog_dir: str | None) -> tuple[float, object]:
    """Session + input + pilot; returns (seconds, pilot pipeline)."""
    t0 = time.perf_counter()
    b.spark = start_session(conf, eventlog_dir)
    t_session = time.perf_counter() - t0
    src = b.path("input")
    b.wl.generate(b.spark, b.wl.rows, b.seed, cores()).write.parquet(src)
    b.df = b.spark.read.parquet(src)
    t_input = time.perf_counter() - t0 - t_session
    pilot_s, pipe, _ = b.fresh()
    b.ref = b.check(b.path(f"out{b.runs}"))
    warm = [b.fresh()[0] for _ in range(b.wl.warmups - 1)]
    dt = time.perf_counter() - t0
    log(f"session_s={t_session:.3f} input_s={t_input:.3f} pilot_s={pilot_s:.3f} warmup_s={warm}")
    return dt, pipe


def measure(b: Bench, seconds: float) -> dict:
    """The workload's cycle of fresh (F) and resume (R) executions, repeated
    until ``seconds`` have passed; each resume starts from the checkpoints of
    the fresh run before it. Resumes are the cheaper and the noisier, so
    ``fuzzy_ref`` gives them two samples to each fresh one."""
    walls, resumes, failed, attempted = [], [], 0, 0
    t0, steal0 = time.perf_counter(), steal_jiffies()
    t_end = t0 + seconds
    with RssSampler() as rss:
        while not failed and not (walls and time.perf_counter() >= t_end):
            for step in b.wl.cycle:
                attempted += 1
                try:
                    if step == "F":
                        wall, _, root = b.fresh()
                        walls.append(wall)
                        log(f"wall_s={wall:.3f}")
                    else:
                        resumes.append(b.resume(root))
                        log(f"resume_s={resumes[-1]:.3f}")
                except Exception as e:  # noqa: BLE001 - count it, report it, stop
                    failed += 1
                    log("run failed:", repr(e)[:500])
                    break
    # run-to-run spread follows this more than anything the benchmark sets
    log(f"steal jiffies/s while measuring: {(steal_jiffies() - steal0) / (time.perf_counter() - t0):.1f}")
    out = {"attempted": attempted, "failed": failed, "peak_rss_mb": rss.peak / 2**20}
    if walls and resumes:
        out["wall_s"] = statistics.median(walls)
        out["resume_s"] = statistics.median(resumes)
    return out


def traced(b: Bench) -> dict:
    """A traced fresh run between two untraced ones; per-layer metrics.
    The untraced runs on both sides cancel the JVM's continuing warm-up out
    of ``trace.overhead_s``."""
    import eventlog
    from tracing import Tracer

    before, _, _ = b.fresh()
    tracer = Tracer(b.spark)
    tracer.install()
    try:
        root_path, out = b.new_run()
        pipe = b.wl.pipeline(b.spark, root_path)
        with tracer.root():
            b.wl.execute(pipe, b.df, out, tracer)
        counts = tracer.count_deferred()
    finally:
        tracer.uninstall()
    b.check(out)
    root_span = tracer.spans[0]
    wall = root_span.end - root_span.start
    after, _, _ = b.fresh()
    untraced = (before + after) / 2
    log(f"traced wall_s={wall:.3f} untraced wall_s={before:.3f},{after:.3f}")
    b.spark.stop()  # flushes the event log
    b.spark = None

    events = eventlog.read_events(b.path("eventlog"))
    jobs, tasks = eventlog.job_table(events, root_span.start, root_span.end)
    self_time = eventlog.attribute(tracer.spans, 0, jobs)
    manifests = read_manifests(root_path)

    def busy(layer):
        return self_time.get(layer, 0.0)

    def task(layer, key):
        return tasks.get(layer, {}).get(key, 0.0)

    def stage_rows(prefix):
        return sum(m["row_count"] for s, m in manifests.items() if s.split("/")[0] == prefix)

    lsh_stats = [m.get("metrics", {}) for s, m in manifests.items() if s.startswith("LSHBuckets/")]
    cands = counts.get("substring_candidates", 0)
    sim_in = counts.get("simhash_in", 0)
    all_task = sum(t["task_s"] for t in tasks.values())
    log(f"spill_bytes={sum(t['spill_bytes'] for t in tasks.values()):.0f}")
    return {
        "minhash.busy_s": busy("minhash"),
        "minhash.task_s": task("minhash", "task_s"),
        "minhash.out_bytes": sum(f["bytes"] for f in manifests.get("MinHashStage", {}).get("files", [])),
        "lsh.busy_s": busy("lsh"),
        "lsh.task_s": task("lsh", "task_s"),
        "lsh.max_bucket_size": max((m.get("max_bucket_size", 0) for m in lsh_stats), default=0),
        "lsh.colliding_buckets": sum(m.get("colliding_buckets", 0) for m in lsh_stats),
        "edges.busy_s": busy("edges"),
        "edges.shuffle_bytes": task("edges", "shuffle_bytes"),
        "edges.rows_out": stage_rows("Edges"),
        "connected_components.busy_s": busy("connected_components"),
        "connected_components.jobs": sum(1 for j in jobs if j[0] == "connected_components"),
        "connected_components.edges_in": counts.get("cc_edges_in", 0),
        "substring.busy_s": busy("substring"),
        "substring.shuffle_bytes": task("substring", "shuffle_bytes"),
        "substring.verified_ratio": stage_rows("SubstringEdges") / cands if cands else 0.0,
        "simhash.busy_s": busy("simhash"),
        "simhash.keep_ratio": counts.get("simhash_kept", 0) / sim_in if sim_in else 0.0,
        "duplicates.busy_s": busy("duplicates"),
        "duplicates.remove_s": busy("duplicates.remove"),
        "ids.busy_s": busy("ids"),
        "checkpoint.bytes_written": sum(f["bytes"] for m in manifests.values() for f in m["files"]),
        "checkpoint.files_written": sum(m["num_files"] for m in manifests.values()),
        "checkpoint.read_s": busy("checkpoint"),
        "pipeline.unattributed_s": busy(None),
        "pipeline.jobs": len(jobs),
        "session.core_busy_ratio": all_task / (wall * cores()),
        "session.gc_s": sum(t["gc_s"] for t in tasks.values()),
        "trace.overhead_s": wall - untraced,
    }


def read_manifests(ckpt_root: str) -> dict:
    """stage (path relative to its tier root) -> manifest, for every tier."""
    out = {}
    for dirpath, _dirs, names in os.walk(ckpt_root):
        if "manifest.json" in names:
            with open(os.path.join(dirpath, "manifest.json")) as f:
                m = json.load(f)
            out[m["stage"]] = m
    return out


def scores(b: Bench, pipe) -> dict:
    from outputs import OutputMismatch, pair_scores

    t0 = time.perf_counter()
    s = pair_scores(b.wl.truth(b.spark, b.df), b.wl.found(pipe, b.df), b.wl.kinds)
    log(f"pair scores ({time.perf_counter() - t0:.3f} s):", s)
    if s["identical_recall"] != 1.0:
        raise OutputMismatch(f"identical-transcript pairs missed: {s}")
    return s


def bench(args, work: str) -> dict:
    from outputs import OutputMismatch
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    log("host probe:", host_probe(), "cores:", cores())
    conf = isolated_env(work)
    b = Bench(wl, args.seed, work)
    try:
        setup_s, pilot = setup(b, conf, b.path("eventlog") if args.trace else None)
        want = expected_outputs(wl.name, args.seed, wl.rows)
        log(f"setup_s={setup_s:.3f} removed={b.ref[0]} digest={b.ref[1]} expected={want}")
        if want is not None and want != b.ref:
            raise OutputMismatch(f"removed set {b.ref} != recorded {want}")
        if args.trace:
            return {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {k: (v, PER_LAYER_UNITS[k]) for k, v in traced(b).items()}}
        sc = scores(b, pilot)
        m = measure(b, args.seconds)
    finally:
        stop_spark(b.spark)
    ok = m["attempted"] - m["failed"]
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": m["peak_rss_mb"],
        "dup_pair_recall": sc["recall"],
        "dup_pair_precision": sc["precision"],
        "ok_ratio": ok / m["attempted"],
    }
    if "wall_s" in m:
        metrics.update(wall_s=m["wall_s"], clips_per_s=wl.rows / m["wall_s"], resume_s=m["resume_s"])
    return {"correct": m["failed"] == 0, "attempted": m["attempted"], "failed": m["failed"],
            "metrics": {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()}}


def main(argv=None) -> int:
    from importlib.util import find_spec

    sys.path[:0] = [HERE, ROOT]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["fuzzy_ref", "tiered_full", "hot_skew"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if find_spec("curator_spark") is None or find_spec("pyspark") is None:
        log("curator_spark / pyspark not importable: run from the repository root")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    env, tmpdir = dict(os.environ), tempfile.tempdir
    try:
        res = bench(args, work)
    except Exception as e:  # noqa: BLE001 - a wrong output is a failed run, not a crash
        from outputs import OutputMismatch

        if not isinstance(e, OutputMismatch):
            raise
        log("output check failed:", e)
        res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmpdir
    res["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()}
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
