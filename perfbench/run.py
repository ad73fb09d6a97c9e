"""CDC engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catchup_late --seed 1 --seconds 12 --trace 0

Run from the repository root. One process drives a closed loop with one
client and one write in flight on ``local[<cores>]``: a microbatch engine
applies one batch at a time, so an open loop would only make the runner
coalesce a backlog, which the catch-up workloads measure directly.

Per run: set-up (session start and a warm-up replay; for ``tail`` the base
vault load and a warm-up commit) is timed as ``setup_s``, input generation
excluded. The seeded input is written into the run's directory under
``.perfbench_work`` right after session start; ``catchup_late`` and
``pipe_late`` replay the same stream for a given seed, through
``MicrobatchRunner.replay`` and ``Pipe.replay``. A 1 s noise-probe window
follows, then the measured window: a write phase of back-to-back write
operations, then a read phase of current-state reads, history reads and
single-conversation lookups against the last vault written. Both phases do
a fixed number of operations, sized so that the window lasts about
``--seconds`` on a 4-core host (75% writes). Every vault a write produced
is then checked against a reference computed outside the engine
(``reference.py``); a mismatch counts as a failed operation.

``--trace 0`` reports the end-to-end metrics (set-up time, median write
wall time); events per write and read medians go to the diagnostics line
printed before the result. ``--trace 1`` repeats the run with spans around
every layer entry point and a Spark event log, and reports per-layer
counters instead (``spans.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

from inputs import ORACLE_COL, StreamShape, write_input  # noqa: E402

WRITE_SHARE = 0.75
# Nominal seconds per operation on a 4-core host. A run performs a fixed
# number of operations, sized from --seconds with these, instead of
# watching the clock: the JVM keeps speeding up for many operations after
# warm-up, so a clock-bounded loop would let a faster commit sample a
# warmer JVM, and let op counts (and medians) jump between runs.
NOMINAL_S = {
    "catchup_late": 10.0,
    "catchup_late.read_cycle": 1.0,
    "pipe_late": 10.0,
    "pipe_late.read_cycle": 1.0,
    "tail": 3.0,
    "tail.read_cycle": 0.9,
}
PROBE_SECONDS = 1.0
N_LOOKUP_CONVS = 40
# Why each workload exists is recorded in BENCHMARK.json; the shapes are
# sized so one run fits its share of the benchmark's wall-time budget.
# A 5k-event backlog in 4 batches with 2% of events 1-3 batches late: hub
# and link lanes take the window closed form, the sat lane fails its
# precondition and falls back to the per-batch chain
CATCHUP = StreamShape(n_events=5_000, batch_size=1_250, n_convs=100, late_pct=2)
WORKLOADS = {
    "catchup_late": CATCHUP,  # through MicrobatchRunner.replay (with prefetch)
    "pipe_late": CATCHUP,  # through the vault's generic Pipe.replay
    # warm vault, then single-batch commits
    "tail": StreamShape(n_events=12_000, batch_size=2_000, n_convs=1_000),
}
# catch-up set-up replays the first batches of the stream into a vault
# that is then dropped: the first replay in a fresh JVM costs about twice a
# later one whatever its size
WARM_BATCHES = 2
# tail set-up: the base load replays these batches, then commits more
# one at a time so the measured commits start warm
TAIL_BASE_BATCHES = 2
TAIL_WARM_COMMITS = 1


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _confine(run_dir: str) -> None:
    """Keep every temporary file of this process and its JVM in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp


def _session(run_dir: str, cores: int, trace: bool):
    from pyelt_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    }
    if trace:
        from spans import event_log_conf

        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    spark = get_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _events(spark, path: str, batch_lo: int | None = None, batch_hi: int | None = None):
    df = spark.read.parquet(path).drop(ORACLE_COL)
    if batch_lo is not None:
        df = df.filter((df.batch_id >= batch_lo) & (df.batch_id < batch_hi))
    return df


def _replay(workload: str, vault, events) -> list:
    """One catch-up replay through the workload's orchestrator."""
    if workload == "pipe_late":
        return vault.pipe.replay(events)
    from pyelt_spark.streaming.runner import MicrobatchRunner

    return MicrobatchRunner(vault).replay(events)


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _probe(run_dir: str) -> dict:
    """Host-noise window before the measurement (``tools/noise_probe.py``).

    Taken while Spark is idle, so it marks co-tenant load on the host, not
    the benchmark's own. Diagnostic only: no sample is filtered on it."""
    path = os.path.join(run_dir, "probe.log")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "noise_probe.py"), path],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        time.sleep(PROBE_SECONDS)
    finally:
        proc.terminate()
        proc.wait()
    with open(path) as f:
        raw = [int(line) for line in f if line.strip()]
    wins = sorted(raw[3:])  # first windows include interpreter start-up
    if not wins:
        return {"probe_windows": 0}
    med = wins[len(wins) // 2]
    return {
        "probe_windows": len(wins),
        "probe_median": med,
        "probe_slow_share": round(sum(w < 0.8 * med for w in wins) / len(wins), 4),
    }


class Run:
    """State of one benchmark run: the session, samples and failures."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.buckets = max(self.cores, 8)
        self.shape = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.n_vault = 0
        self.tracer = None
        self.spark = None

    # ------------------------------------------------------------ helpers

    def vault(self):
        from pyelt_spark.plans.pipeline import TranscriptVault

        self.n_vault += 1
        root = os.path.join(self.run_dir, "vaults", f"v{self.n_vault}")
        return TranscriptVault(self.spark, root, num_buckets=self.buckets)

    def op(self, kind: str, fn, check=None):
        """Run one measured operation; returns its result or None if it failed."""
        self.attempted += 1
        span = self.tracer.span(kind) if self.tracer and kind.startswith("read.") else None
        try:
            t0 = time.perf_counter()
            if span:
                with span:
                    out = fn()
            else:
                out = fn()
            dt = time.perf_counter() - t0
            if check is not None and not check(out):
                raise AssertionError(f"{kind}: output check failed")
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        self.samples.setdefault(kind, []).append(dt)
        return out

    def stop(self) -> None:
        spark, self.spark = self.spark, None
        if spark is not None:
            _stop(spark)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    # ------------------------------------------------------------ set-up

    def setup(self) -> float:
        """Set-up wall time, input generation excluded."""
        from pyelt_spark.streaming.runner import MicrobatchRunner

        t0 = time.perf_counter()
        self.spark = _session(self.run_dir, self.cores, bool(self.args.trace))
        t1 = time.perf_counter()
        self.input = write_input(
            self.spark, os.path.join(self.run_dir, "input"), self.args.seed, self.shape
        )
        t2 = time.perf_counter()
        self.phases = {"session_s": t1 - t0, "gen_s": t2 - t1}
        # warm-up through the paths the workload measures: the first
        # replay or commit in a fresh JVM runs far slower than later ones
        wl = self.args.workload
        if wl == "tail":
            self.tail_vault = v = self.vault()
            MicrobatchRunner(v).replay(_events(self.spark, self.input, 0, TAIL_BASE_BATCHES))
            self.next_batch = TAIL_BASE_BATCHES
            for _ in range(TAIL_WARM_COMMITS):
                self.commit_next(v)
        else:
            _replay(wl, self.vault(), _events(self.spark, self.input, 0, WARM_BATCHES))
        self.phases["warm_writes_s"] = time.perf_counter() - t2
        return time.perf_counter() - t0 - (t2 - t1)

    # ------------------------------------------------------------ phases

    def commit_next(self, vault):
        b = self.next_batch
        self.next_batch += 1
        return vault.apply_batch(_events(self.spark, self.input, b, b + 1), b)

    def write_phase(self, n: int) -> list:
        """``n`` closed-loop writes; returns (vault, max_batch) pairs to
        check, max_batch None meaning the whole input."""
        if self.args.workload == "tail":
            v = self.tail_vault
            for _ in range(min(n, self.shape.n_batches - self.next_batch)):
                rows = self.batch_rows(self.next_batch)
                if self.op("write", lambda: self.commit_next(v)) is not None:
                    self.events_applied += rows
            return [(v, self.next_batch)]
        ev = _events(self.spark, self.input)
        written = []
        for _ in range(n):
            v = self.vault()
            if self.op("write", lambda: _replay(self.args.workload, v, ev)) is not None:
                self.events_applied += self.input_rows
            written.append((v, None))
        return written

    def n_ops(self, kind: str, share: float, minimum: int) -> int:
        return max(minimum, round(self.args.seconds * share / NOMINAL_S[kind]))

    def batch_rows(self, b: int) -> int:
        if not hasattr(self, "_batch_rows"):
            import duckdb

            glob = os.path.join(self.input, "*.parquet")
            with duckdb.connect() as con:
                self._batch_rows = dict(
                    con.execute(
                        f"SELECT batch_id, count(*) FROM read_parquet('{glob}') GROUP BY 1"
                    ).fetchall()
                )
        return self._batch_rows.get(b, 0)

    @staticmethod
    def read_ops(vault, ref, conv: str) -> list:
        """(kind, fn, check) of one read cycle, checked against ``ref``."""
        return [
            (
                "read.current",
                lambda: vault.current_turns().count(),
                lambda n: n == len(ref.current),
            ),
            (
                "read.history",
                lambda: vault.sat.read().count(),
                lambda n: n == ref.history_rows,
            ),
            (
                "read.lookup",
                lambda: vault.conversation_view(conv).collect(),
                lambda rows: {(r["turn_idx"], r["text"]) for r in rows if r["turn_idx"] is not None}
                == ref.conversation(conv),
            ),
        ]

    def read_phase(self, vault, ref, n: int) -> None:
        rng = random.Random(self.args.seed)
        convs = [f"conv-{n}" for n in rng.sample(range(self.shape.n_convs), N_LOOKUP_CONVS)]
        for i in range(n):
            for kind, fn, check in self.read_ops(vault, ref, convs[i % len(convs)]):
                self.op(kind, fn, check)

    def reference(self, max_batch):
        import reference

        state = reference.fold(reference.load_events(self.input, max_batch))
        if not self.shape.late_pct:
            # in-order input: the fold must agree with a plain latest-per-key
            if reference.latest_per_key(self.input, max_batch) != state.current:
                self.fail("reference: fold and DuckDB latest-per-key disagree")
        return state

    def check(self, written, ref_for) -> None:
        import reference

        for vault, max_batch in written:
            self.attempted += 1
            try:
                problem = reference.check_vault(vault, ref_for(max_batch))
            except Exception:
                problem = traceback.format_exc(limit=3)
            if problem:
                self.fail(problem)

    # ------------------------------------------------------------ main

    def run(self) -> dict:
        setup_s = self.setup()
        self.input_rows = sum(self.batch_rows(b) for b in range(self.shape.n_batches))
        diag = {**self.phases, **_probe(self.run_dir)}
        self.events_applied = 0

        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        t_start = time.time()
        steal0 = _cpu_steal()
        written = self.write_phase(self.n_ops(self.args.workload, WRITE_SHARE, 1))
        refs: dict = {}

        def ref_for(max_batch):
            if max_batch not in refs:
                refs[max_batch] = self.reference(max_batch)
            return refs[max_batch]

        last_vault, last_max = written[-1]
        ref = ref_for(last_max)
        self.read_phase(last_vault, ref, self.n_ops(f"{self.args.workload}.read_cycle", 1 - WRITE_SHARE, 3))
        t_end = time.time()
        steal1 = _cpu_steal()
        diag["steal_share"] = round((steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1), 4)
        if self.tracer:
            self.tracer.uninstall()
        self.check(written, ref_for)

        writes = self.samples.get("write", [])
        per_op = self.events_applied / max(len(writes), 1)
        diag.update(
            writes=len(writes),
            reads=len(self.samples.get("read.current", [])),
            events_per_write=per_op,
            write_s=writes,
            # sub-second reads swing with host CPU steal far more than the
            # multi-second writes, so they are reported here, not gated
            read_p50_s={k: statistics.median(v) for k, v in self.samples.items() if k != "write"},
        )
        if self.args.trace:
            from spans import disk_metrics, layer_metrics

            absorbed = (
                self.input_rows if last_max is None else sum(map(self.batch_rows, range(last_max)))
            )
            disk = disk_metrics(last_vault.root, last_vault.sat.head.path, absorbed)
            self.stop()
            metrics = layer_metrics(self.tracer, os.path.join(self.run_dir, "eventlog"), t_start, t_end)
            metrics.update(disk)
            metrics["trace.write_p50_s"] = statistics.median(writes)
            declared = _declared("per_layer")
        else:
            w50 = statistics.median(writes)
            metrics = {"setup_s": setup_s, "write_p50_s": w50}
            declared = _declared("end_to_end")
            self.stop()
        print(json.dumps({"diagnostics": diag, "errors": self.errors[:5]}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in declared.items()},
        }


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    _confine(run_dir)
    run = Run(args, run_dir)
    try:
        result = run.run()
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
