"""Per-layer measurement for ``--trace 1`` runs.

Spans are recorded from outside the program: the public calls of each layer
(``ChainDB.add_blocks``; ``ChainStore.append_facts``, ``merge_state``,
``merge_metastate`` and ``read``; each Indexer call's ``compile`` and
``collect``) are wrapped while the run lasts.  Spark's own event log,
written into the run's directory, gives jobs, tasks, GC, shuffle and spill;
the streaming query's progress reports give the trigger breakdown.  Spans
are kept in memory and reduced when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

STATE = ("account", "account_asset", "asset", "app", "account_app", "app_box")
FACTS = ("block_header", "txn", "txn_participation")
CALLS = ("get_block", "txns_by_address", "txns_by_round", "account", "asset_balances",
         "app_boxes")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.spans: list[tuple] = []  # (name, table, start, end)
        self.marks: dict[str, float] = {}
        self.calls: list[dict] = []  # one per timed Indexer call
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def spark_conf(self) -> dict[str, str]:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    # -- spans -------------------------------------------------------------

    def _wrap(self, cls, name: str, span: str) -> None:
        orig = getattr(cls, name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(self, *args, **kwargs):
            t0 = time.time()
            try:
                return orig(self, *args, **kwargs)
            finally:
                table = args[0] if args and isinstance(args[0], str) else None
                with tracer._lock:
                    tracer.spans.append((span, table, t0, time.time()))

        setattr(cls, name, wrapper)
        self._patched.append((cls, name, orig))

    def install(self) -> None:
        from sparkroach.chain.ingest import ChainDB
        from sparkroach.chain.store import ChainStore

        self._wrap(ChainDB, "add_blocks", "add_blocks")
        self._wrap(ChainStore, "append_facts", "append")
        self._wrap(ChainStore, "merge_state", "merge")
        self._wrap(ChainStore, "merge_metastate", "metastate")
        orig_read = ChainStore.read
        tracer = self

        @functools.wraps(orig_read)
        def read(self, table, *args, **kwargs):
            t0 = time.time()
            df = orig_read(self, table, *args, **kwargs)
            t1 = time.time()
            with tracer._lock:
                tracer.spans.append(("read", table, t0, t1))
                if tracer.calls and tracer.calls[-1].get("open"):
                    tracer.calls[-1]["files"] += len(df.inputFiles())
            return df

        ChainStore.read = read
        self._patched.append((ChainStore, "read", orig_read))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()

    def mark(self, name: str) -> None:
        self.marks[name] = time.time()

    def timed_read(self, kind: str, call, db) -> list:
        rec = {"kind": kind, "files": 0, "open": True, "start": time.time()}
        self.calls.append(rec)
        t0 = time.perf_counter()
        df = call.compile(db)
        t1 = time.perf_counter()
        rec["open"] = False
        rows = df.collect()
        rec.update(compile_ms=(t1 - t0) * 1000, execute_ms=(time.perf_counter() - t1) * 1000,
                   end=time.time(), rows=len(rows))
        return rows

    # -- snapshots taken while the session is up ---------------------------

    def snapshot(self, run) -> None:
        """Process figures, store layout and the transform timings; called
        after the timed phases, before the session stops."""
        spark, db = run.spark, run.db
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tick = os.sysconf("SC_CLK_TCK")
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/status") as f:
            hwm = next(int(line.split()[1]) * 1024 for line in f if line.startswith("VmHWM"))
        self.proc = {"proc.jvm_user_s": int(fields[11]) / tick,
                     "proc.jvm_sys_s": int(fields[12]) / tick,
                     "proc.jvm_peak_rss_bytes": hwm}
        self.uninstall()
        txn_rows = db.store.read("txn").count()
        self.layout = {
            "store.files.txn": len(db.store.read("txn").inputFiles()),
            "store.files.txn_participation":
                len(db.store.read("txn_participation").inputFiles()),
            "store.files.account": len(db.store.read("account").inputFiles()),
            "store.versions": sum(len(db.store.snapshot_versions(t))
                                  for t in FACTS + STATE),
            "store.bytes_per_txn": run.store_bytes / txn_rows,
        }
        self.transforms = _time_transforms(run)

    # -- reduction ---------------------------------------------------------

    def per_layer(self, run) -> dict:
        events = _events(self.log_dir)
        m = self.marks
        metrics: dict[str, tuple] = {"session.start_s": (run.session_s, "s")}
        for k, v in self.proc.items():
            metrics[k] = (v, "bytes" if k.endswith("bytes") else "s")

        prog = run.progress
        for name, keys in (("trigger", ("triggerExecution",)), ("add_batch", ("addBatch",)),
                           ("latest_offset", ("latestOffset",)),
                           ("get_batch", ("getBatch",)),
                           ("commit", ("walCommit", "commitOffsets"))):
            metrics[f"stream.{name}_ms"] = (
                _median([sum(p["durationMs"].get(k, 0) for k in keys) for p in prog]), "ms")

        adds = [s for s in self.spans if s[0] == "add_blocks"]
        catchup = [s for s in adds if m["catchup"] <= s[2] < m["stop"]]
        serial, fanout, meta, jobs, tasks = [], [], [], [], []
        for _, _, a0, a1 in catchup:
            inner = [s for s in self.spans if s[0] in ("append", "merge", "metastate")
                     and a0 <= s[2] <= a1]
            first = min((s[2] for s in inner if s[0] != "metastate"), default=a0)
            commit = min((s[2] for s in inner if s[0] == "metastate"), default=a1)
            serial.append(first - a0)
            fanout.append(commit - first)
            meta.append(a1 - commit)
            jobs.append(sum(a0 <= j["submit"] <= a1 for j in events["jobs"]))
            tasks.append(sum(a0 <= t["launch"] <= a1 for t in events["tasks"]))
        metrics.update({
            "ingest.catchup_add_blocks_s": (_median([s[3] - s[2] for s in catchup]), "s"),
            "ingest.serial_s": (_median(serial), "s"),
            "ingest.fanout_s": (_median(fanout), "s"),
            "ingest.metastate_s": (_median(meta), "s"),
            "ingest.spark_jobs_per_batch": (_median(jobs), "count"),
            "ingest.spark_tasks_per_batch": (_median(tasks), "count"),
        })
        for k, v in self.transforms.items():
            metrics[f"transforms.{k}_s"] = (v, "s")

        # store writes: median per call over the catch-up batch
        def store_median(kind, table):
            return _median([s[3] - s[2] for s in self.spans if s[0] == kind
                            and s[1] == table and m["catchup"] <= s[2] < m["stop"]])

        for t in FACTS:
            metrics[f"store.append.{t}_s"] = (store_median("append", t), "s")
        for t in STATE:
            metrics[f"store.merge.{t}_s"] = (store_median("merge", t), "s")
        metrics["store.metastate_s"] = (store_median("metastate", None), "s")
        for k, v in self.layout.items():
            metrics[k] = (v, "bytes" if k.endswith("per_txn") else "count")

        reads = [s for s in self.spans if s[0] == "read" and m["reads"] <= s[2] < m["end"]]
        scanned = sum(t["records"] for t in events["tasks"]
                      if any(c["start"] <= t["launch"] <= c["end"] for c in self.calls))
        metrics.update({
            "store.read_ms": (_median([(s[3] - s[2]) * 1000 for s in reads]), "ms"),
            "store.files_per_read": (_median([c["files"] for c in self.calls]), "count"),
            "store.rows_scanned_per_row_returned":
                (scanned / max(1, sum(c["rows"] for c in self.calls)), "ratio"),
        })
        for kind in CALLS:
            cs = [c for c in self.calls if c["kind"] == kind]
            metrics[f"query.{kind}.compile_ms"] = (_median([c["compile_ms"] for c in cs]), "ms")
            metrics[f"query.{kind}.execute_ms"] = (_median([c["execute_ms"] for c in cs]), "ms")

        in_run = [t for t in events["tasks"] if m["catchup"] <= t["launch"] < m["end"]]
        metrics.update({
            "spark.jobs": (sum(m["catchup"] <= j["submit"] < m["end"] for j in events["jobs"]),
                           "count"),
            "spark.tasks": (len(in_run), "count"),
            "spark.gc_s": (sum(t["gc_ms"] for t in in_run) / 1000, "s"),
            "spark.shuffle_write_bytes": (sum(t["shuffle_bytes"] for t in in_run), "bytes"),
            "spark.spill_bytes": (sum(t["spill_bytes"] for t in in_run), "bytes"),
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _events(log_dir: str) -> dict:
    """Jobs (submission time) and tasks (launch time and metrics), with
    Spark's epoch-millisecond times turned into seconds."""
    jobs, tasks = [], []
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs.append({"submit": e["Submission Time"] / 1000})
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    tasks.append({
                        "launch": e["Task Info"]["Launch Time"] / 1000,
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_bytes":
                            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes":
                            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        "records": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def _time_transforms(run, repeats: int = 3) -> dict[str, float]:
    """Each transform on its own over the catch-up batch, written to the
    ``noop`` sink; median of ``repeats`` after one warm-up."""
    from pyspark.sql import functions as F

    from sparkroach.chain import transforms as T
    from sparkroach.sources import blocks_from_dir

    rounds = [r for r in run.batches[0] if r]  # the catch-up micro-batch
    blocks = (blocks_from_dir(run.spark, run.feed_dir, streaming=False)
              .where(F.col("round").isin(rounds)).cache())
    blocks.count()
    flat = T.flatten_txns(blocks).cache()
    flat.count()
    plans = {
        "flatten_txns": lambda: [T.flatten_txns(blocks)],
        "txns": lambda: [T.txns(blocks, rows=flat)],
        "participation": lambda: [T.participation(blocks, rows=flat)],
        "account_updates": lambda: [T.account_updates(blocks)],
        "state_updates": lambda: [T.asset_updates(blocks), T.account_asset_updates(blocks),
                                  T.app_updates(blocks), T.account_app_updates(blocks),
                                  T.box_updates(blocks)],
    }
    out = {}
    for name, make in plans.items():
        times = []
        for i in range(repeats + 1):
            t0 = time.perf_counter()
            for df in make():
                df.write.format("noop").mode("overwrite").save()
            if i:
                times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    flat.unpersist()
    blocks.unpersist()
    return out
