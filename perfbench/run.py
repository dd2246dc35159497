"""Indexer benchmark: streamed ingest (a cold catch-up) and Indexer reads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wide_blocks --seed 1 --seconds 30 --trace 0

Each run starts its own Spark session, writes a backlog of ``BACKLOG``
block files into a ``conduit_blocks`` feed directory, then measures, in
order:

1. catch-up: one ``ChainDB.stream_ingest`` query starts with the backlog on
   disk and drains it in one micro-batch, from a cold start;
2. reads: with the query stopped, a single closed-loop client sends
   ``READ_ROUNDS`` rounds of the six Indexer calls, after
   ``WARM_READ_ROUNDS`` unmeasured rounds.

Each phase is measured in wall time and in CPU time: the user and system
seconds of this process and all its descendants (Spark's JVM and its
Python workers), read from ``/proc``, less those of the JVM's JIT compiler
threads.  The end-to-end ingest and read metrics are these CPU figures
(see README.md for why).

The work is fixed, so ``attempted`` and ``failed`` depend on nothing but
the seed; it is sized to take about ``--seconds`` (the run warns on
standard error when the measured span exceeds it).

Afterwards, outside the timed region, every stored table and every read
result is compared with the independent model (``model.py``).  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics (end-to-end with ``--trace 0``, per-layer with
``--trace 1``).  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"  # fits beside other tenants on a 15 GB host
N_BUCKETS = 16
BACKLOG = 4  # rounds 0-3, on disk when the query starts
WARM_READ_ROUNDS = 1  # unmeasured: reads get cheaper over the first calls of a JVM
READ_ROUNDS = 2

# workload name -> root transactions per round (the feed's only difference)
WORKLOADS = {
    "wide_blocks": (60, 150),
    "narrow_blocks": (15, 40),
}


def _setup_env(work: str) -> None:
    """Session settings, made inside this process before Spark starts."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARKROACH_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": cpus,  # local[cpus], shuffle partitions = cpus
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        # JVM temp files and perf data stay out of the shared /tmp; JIT
        # compiler threads live as long as the JVM, so _work_cpu_s can
        # subtract what they spent
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
    })
    import tempfile

    tempfile.tempdir = tmp


def _land(feed_dir: str, blocks: list[dict]) -> None:
    """Write block files highest round first: the source only advances
    through contiguous rounds, so the whole set becomes visible at once
    when the lowest round lands."""
    from gen import block_json

    for b in reversed(blocks):
        target = os.path.join(feed_dir, f"block_{b['round']}.json")
        with open(target + ".tmp", "w", encoding="utf-8") as f:
            f.write(block_json(b) + "\n")
        os.replace(target + ".tmp", target)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 1:].split()


def _work_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every live
    descendant, including what they spent in children they have reaped,
    less what the JVMs' JIT compiler threads spent.  JIT compilation runs
    in the background of a young JVM, by amounts that vary from run to run,
    and is most of the CPU a read costs in a run this short."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                procs[int(d)] = _stat(f"/proc/{d}/stat")
            except OSError:  # the process ended while we looked
                pass
    me, total = os.getpid(), 0
    for pid, (comm, fields) in procs.items():
        p = pid
        while p not in (me, 0, 1):
            p = int(procs[p][1][1]) if p in procs else 0
        if p != me:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
        if comm == "java":
            for t in os.listdir(f"/proc/{pid}/task"):
                try:
                    name, tf = _stat(f"/proc/{pid}/task/{t}/stat")
                except OSError:
                    continue
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    total -= int(tf[11]) + int(tf[12])
    return total / tick


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _call(kind: str, arg: tuple):
    from sparkroach.chain import query as Q

    if kind == "get_block":
        return Q.GetBlockOptions(round=arg[0], transactions=True)
    if kind == "txns_by_address":
        return Q.TransactionFilter(address=arg[0], min_round=arg[1], max_round=arg[2])
    if kind == "txns_by_round":
        return Q.TransactionFilter(min_round=arg[0], max_round=arg[1])
    if kind == "account":
        return Q.AccountQueryOptions(equal_to_address=arg[0], include_asset_holdings=True)
    if kind == "asset_balances":
        return Q.AssetBalanceQuery(asset_id=arg[0])
    return Q.ApplicationBoxQuery(application_id=arg[0])


class Run:
    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        from gen import Feed

        self.t_start = time.perf_counter()
        self.seed, self.work = seed, work
        self.feed = Feed(seed, *WORKLOADS[workload])
        self.blocks: list[dict] = []
        self.batches: list[list[int]] = []  # rounds of each micro-batch
        self.tracer = None
        if trace:
            from tracing import Tracer

            self.tracer = Tracer(work)

    def _next(self, n: int) -> list[dict]:
        blocks = [self.feed.block(self.feed.next_round) for _ in range(n)]
        self.blocks += blocks
        return blocks

    def _commit(self, blocks: list[dict]) -> None:
        """Wait until the query has committed ``blocks`` (one micro-batch)."""
        self.query.processAllAvailable()
        want = blocks[-1]["round"] + 1
        if self.db.next_round() != want:
            raise RuntimeError(f"stream committed up to {self.db.next_round()}, not {want}")
        self.batches.append([b["round"] for b in blocks])

    def _mark(self, name: str) -> None:
        if self.tracer:
            self.tracer.mark(name)

    def setup(self) -> None:
        from sparkroach.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench",
                               extra_conf=self.tracer.spark_conf() if self.tracer else None)
        self.spark.range(1).collect()
        self.session_s = time.perf_counter() - t0
        from sparkroach.chain.ingest import ChainDB

        if self.tracer:
            self.tracer.install()
        self.store_dir = os.path.join(self.work, "store")
        self.feed_dir = os.path.join(self.work, "feed")
        os.makedirs(self.feed_dir)
        self.db = ChainDB(self.spark, self.store_dir, n_buckets=N_BUCKETS)
        self.backlog = self._next(BACKLOG)
        _land(self.feed_dir, self.backlog)
        self.setup_s = time.perf_counter() - self.t_start

    def measure(self) -> None:
        from sparkroach.sources import blocks_from_dir

        # catch-up from a cold start: the query starts with the backlog on
        # disk, so this includes the one-time warm-up of every plan
        t_measure, c0 = time.perf_counter(), _work_cpu_s()
        self._mark("catchup")
        self.query = self.db.stream_ingest(
            blocks_from_dir(self.spark, self.feed_dir),
            os.path.join(self.work, "checkpoint"), available_now=False)
        self._commit(self.backlog)
        self.catchup_s, self.catchup_cpu_s = (time.perf_counter() - t_measure,
                                              _work_cpu_s() - c0)
        self.store_bytes = _du(self.store_dir)
        self._mark("stop")
        self.progress = [p for p in self.query.recentProgress if p["numInputRows"]]
        self.query.stop()
        from model import Model

        self.model = Model([], self.blocks)
        rng = random.Random(f"reads-{self.seed}")
        plans = [self._read_plan(rng) for _ in range(WARM_READ_ROUNDS + READ_ROUNDS)]
        for plan in plans[:WARM_READ_ROUNDS]:
            for kind, arg in plan:
                _call(kind, arg).compile(self.db).collect()
        self._mark("reads")
        self.reads_log: list[tuple] = []  # (kind, arg, seconds, cpu seconds, rows)
        for plan in plans[WARM_READ_ROUNDS:]:
            for kind, arg in plan:
                t, c0 = time.perf_counter(), _work_cpu_s()
                if self.tracer:
                    rows = self.tracer.timed_read(kind, _call(kind, arg), self.db)
                else:
                    rows = _call(kind, arg).compile(self.db).collect()
                self.reads_log.append((kind, arg, time.perf_counter() - t,
                                       _work_cpu_s() - c0, rows))
        self.measure_s = time.perf_counter() - t_measure
        self._mark("end")
        if self.tracer:
            self.tracer.snapshot(self)

    def _read_plan(self, rng: random.Random) -> list[tuple]:
        """One read round: the six calls in a seeded order.  The calls that
        take a round target a seeded round (every round from 2 on carries
        inner transactions), with an address that takes part in one of its
        inner transactions."""
        m = self.model
        r_in = rng.choice(range(2, max(m.blocks) + 1))
        live = sorted(a for a, v in m.account.items() if not v["deleted"])
        inner_addrs = sorted({a for x in m.txns[r_in] if x["txid"] is None
                              for a in x["participants"]})
        plan = [
            ("get_block", (r_in,)),
            ("txns_by_address", (rng.choice(inner_addrs), r_in - 1, r_in)),
            ("txns_by_round", (r_in - 1, r_in)),
            ("account", (rng.choice(live),)),
            ("asset_balances", (rng.choice(sorted(m.asset)),)),
            ("app_boxes", (rng.choice(sorted({a for a, _ in m.app_box})),)),
        ]
        rng.shuffle(plan)
        return plan

    def check(self) -> tuple[bool, int, int, list[str]]:
        """(correct, attempted, failed, errors).  Each round from 2 on (the
        rounds with inner transactions) counts as two operations, its
        transaction rows and its state writes; each read counts as one.
        Rounds 0 and 1 are checked but not counted."""
        from check import BAD, FAULT, StoreCheck, classify, read_expected, read_result
        from model import Model

        faulty = Model([], self.blocks, self.batches, drop_inner=True)
        sc = StoreCheck(self.model, faulty)
        read = self.db.store.read
        status = sc.blocks(read("txn").collect(), read("txn_participation").collect())
        sc.state({t: read(t).collect() for t in (
            "block_header", "account", "asset", "account_asset", "app", "account_app",
            "app_box")})
        if self.db.next_round() != self.model.next_round:
            sc.errors.append(f"next_account_round {self.db.next_round()}")
        timed = [r for batch in self.batches for r in batch if r >= 2]
        attempted = 2 * len(timed) + len(self.reads_log)
        failed = sum(status[r] == FAULT for r in timed)
        for kind, arg, _, _, rows in self.reads_log:
            got = read_result(kind, rows)
            s = classify(got, read_expected(self.model, kind, arg),
                         read_expected(faulty, kind, arg))
            failed += s == FAULT
            if s == BAD:
                sc.errors.append(f"read {kind}{arg!r:.80}: {len(got)} rows")
        return not sc.errors, attempted, failed, sc.errors

    def end_to_end(self) -> dict:
        m = {
            "setup_s": (self.setup_s, "s"),
            "ingest_cpu_s": (self.catchup_cpu_s, "s"),
            "read_cpu_ms": (statistics.median(c * 1000 for _, _, _, c, _ in self.reads_log),
                            "ms"),
            "store_bytes": (self.store_bytes, "bytes"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def phases(self) -> dict:
        """The wall-clock figures of the catch-up and the reads, which the
        host's load moves too much to bound (README.md); per-layer metrics
        of a traced run."""
        m = {
            "wall.catchup_blocks_per_s": (BACKLOG / self.catchup_s, "blocks/s"),
            "wall.read_p50_ms": (statistics.median(d * 1000 for _, _, d, _, _ in self.reads_log),
                                 "ms"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="the span the fixed work is sized to; exceeding it only warns")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkroach", "chain", "ingest.py")):
        print(f"perfbench: no sparkroach package under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _setup_env(work)
    run = Run(args.workload, args.seed, bool(args.trace), work)
    try:
        run.setup()
        run.measure()
        t_check = time.perf_counter()
        correct, attempted, failed, errors = run.check()
        check_s = time.perf_counter() - t_check
        for e in errors:
            print("perfbench: check failed:", e, file=sys.stderr)
        metrics = run.end_to_end()
        phases = run.phases()
        print(f"perfbench: session {run.session_s:.2f} s, measured {run.measure_s:.1f} s, "
              f"checks {check_s:.1f} s, phases {json.dumps(phases)}", file=sys.stderr)
        if run.measure_s > args.seconds:
            print(f"perfbench: warning: measured {run.measure_s:.1f} s, "
                  f"more than --seconds {args.seconds}", file=sys.stderr)
        _stop(run.spark)  # also flushes the event log a traced run reads
        run.spark = None
        if run.tracer:
            # a traced run's own end-to-end figures give the tracing overhead
            print("perfbench: traced end-to-end", json.dumps(metrics), file=sys.stderr)
            metrics = {**run.tracer.per_layer(run), **phases}
    finally:
        if getattr(run, "spark", None) is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
