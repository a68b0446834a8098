"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N [--seconds S] [--trace 0|1]

Runs from the root of a checkout. One driver process on
local[<cores>] runs the workload as a closed loop with one client:
each query or artifact starts when the previous one has finished.

1. Set-up, three rounds: generate the inputs, start the session with
   ``get_spark`` and scan every input once. The first round also
   launches the JVM; ``setup_s`` is the median of the other two.
2. For registry queries, an untimed check pass runs every item once
   and checks its output (``checks.py``), then ``WARM_PASSES`` untimed
   passes run them as the timed passes do. All of them warm the JIT.
3. Timed passes for about ``--seconds``, and their medians. Only
   calls into the engine's public functions are timed:
   ``REGISTRY[name].fn``, the sink call, and the ``TweetGraphPipeline``
   methods. Session memos are released before each item, as in
   bench.py. A fixed CPU probe follows each pass.
4. The tweet export has no check pass and makes one timed pass,
   whatever ``--seconds`` is: it runs on a cold JVM, as the CLI does,
   and its files are checked after the timing.
5. The host's speed drifts by a factor of two or more from one quarter
   hour to the next, and CPU seconds drift with it, so ``pass_s``,
   ``cpu_s`` and ``setup_s`` are scaled to a nominal host speed.
   Registry workloads divide by the median of the run's probes but
   the first, which also compiles the probe, and multiply by
   ``PROBE_REF_S``. The probe runs no code of the engine's package,
   only ``spark.range`` and built-in expressions. After the tweet
   export's cold pass the probe's speed varies by a third from one
   JVM to the next whatever the host does, so that workload uses
   ``loop_s`` instead: a fixed Python loop, timed ``LOOPS`` times
   before and after the timed passes, over ``LOOP_REF_S``. Every
   per-layer time, ``probe.cpu_s`` and ``host.loop_s`` included, is
   unscaled.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` also writes the Spark event log, gives every timed call
its own job group and prints the per-layer metrics. The last line of
stdout is one JSON object; everything else goes to stderr.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the star tables are the same in every run; the seed varies the query
# order and the tweet corpus
DATA_SEED = 42
SETUP_ROUNDS = 3
# the first passes after the check pass are still the slowest while
# the JIT compiles; untimed warm passes keep them out of the medians
WARM_PASSES = 2
# the end-to-end timings are seconds on a host whose median warm
# probe takes PROBE_REF_S, or whose loop_s takes LOOP_REF_S; a run
# makes at least MIN_PROBES probes, the first of which is cold and
# left out
PROBE_REF_S = 0.1
MIN_PROBES = 5
LOOP_REF_S = 0.2
LOOPS = 5
CPUS = len(os.sched_getaffinity(0))
MB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- process accounting --------------------------------------------------------


def _proc_stat(pid: int) -> tuple[int, int]:
    """(parent pid, utime+stime+cutime+cstime in clock ticks)."""
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    fields = data[data.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used by ``root`` and every live descendant: the
    Python driver, the JVM and its Python workers."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _proc_stat(int(name))
            except (OSError, ValueError, IndexError):
                continue  # exited while we looked
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            ticks += stats[pid][1]
            stack.extend(children[pid])
    return ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pid: int) -> None:
    """Lower ``pid``'s VmHWM to its current RSS (Linux 4.0+)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loop_s() -> float:
    """Seconds for a fixed single-threaded Python loop that runs no
    engine code: the host's speed at this moment."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


# --- plan size -------------------------------------------------------------------


def _count_expressions(value) -> int:
    if isinstance(value, list):
        return sum(_count_expressions(v) for v in value)
    if isinstance(value, dict):
        own = ".catalyst.expressions." in str(value.get("class", ""))
        return own + sum(_count_expressions(v) for v in value.values())
    return 0


def plan_size(df) -> tuple[int, int]:
    """(operators, expression nodes) of ``df``'s optimized logical plan."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return len(nodes), _count_expressions(nodes)


def _frames(built) -> list:
    """The DataFrames a sink writes: one frame, or a graph's two."""
    if hasattr(built, "edges"):
        return [built.edges, built.vertices]
    return [built]


# --- the run -----------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str, spec: dict) -> None:
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.is_tweets = "artifacts" in spec
        self.items: list[str] = spec.get("artifacts") or spec["queries"]
        self.sf = spec.get("sf", 0.01)
        self.star = os.path.join(work, "inputs", "star")
        self.tweets = os.path.join(work, "inputs", "tweets.json")
        self.out = os.path.join(work, "out")
        self.eventlog = os.path.join(work, "eventlog")
        self.spark = None
        self.spans: list[tuple[str, str, str, float, float]] = []
        self.plan_sizes: dict[str, tuple[int, int]] = {}
        self.setup_rounds: list[tuple[float, float, float]] = []
        self.pass_cpu: list[float] = []
        self.probes: list[float] = []
        self.loops: list[float] = []
        self.attempted = 0
        self.failed = 0
        # items that raised in the latest timed pass
        self.raised: set[str] = set()

    # set-up ---------------------------------------------------------------------

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.eventlog}",
                    # plain JSON lines for receipts.py
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def make_inputs(self) -> None:
        from datagen import tweet_records, write_star_tables, write_tweets

        if self.is_tweets:
            self.records = tweet_records(self.args.seed)
            write_tweets(self.records, self.tweets)
        else:
            write_star_tables(self.star, DATA_SEED, self.sf)

    def warm_up(self) -> None:
        from tools.check_parity import TABLES
        from tvbigdataproject_spark.sources.io import read_table, read_tweets

        self.spark.range(1000).selectExpr("sum(id)").collect()
        if self.is_tweets:
            frames = [read_tweets(self.spark, self.tweets)]
        else:
            frames = [read_table(self.spark, self.star, t) for t in TABLES]
        for df in frames:
            df.select(df.columns[0]).write.format("noop").mode("overwrite").save()

    def setup(self) -> None:
        from tvbigdataproject_spark.session import get_spark

        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        for _ in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.make_inputs()
            t1 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=self.conf())
            t2 = time.perf_counter()
            self.warm_up()
            self.setup_rounds.append((t1 - t0, t2 - t1, time.perf_counter() - t2))
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if self.is_tweets:
            from checks import tweet_reference
            from tvbigdataproject_spark.plans import TweetGraphPipeline

            self.pipe = TweetGraphPipeline(self.spark, path=self.tweets, jaccard_threshold=0.5)
            self.reference = tweet_reference(self.records)
            retweeted = sorted({str(r["retweeted_status"]["user"]["id"]) for r in self.records if r["retweeted_status"]})
            self.seed_id = self.rng.choice(retweeted)
            log(f"tweets: {len(self.records)}, JC candidates: {self.reference['jc_candidates']}, "
                f"JC edges: {sum(t == 'JC' for _, _, t in self.reference['edges'])}, "
                f"neighbourhood of {self.seed_id}")

    # timed calls ---------------------------------------------------------------------

    def set_group(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def call(self, tag: str, item: str, phase: str, fn):
        self.set_group(f"{tag}|{item}|{phase}")
        t0 = time.time()
        try:
            return fn()
        finally:
            self.spans.append((tag, item, phase, t0, time.time()))

    def run_item(self, tag: str, item: str):
        """Build and sink one item; returns what the build produced."""
        from tvbigdataproject_spark.session import release_session_caches

        release_session_caches(self.spark)
        if self.is_tweets:
            from workloads import tweet_artifact

            build, write = tweet_artifact(self.pipe, item, self.out, self.seed_id)
            built = self.call(tag, item, "build", build)
            self.call(tag, item, "sink", lambda: write(built))
            return built
        from tvbigdataproject_spark.queries import REGISTRY

        df = self.call(tag, item, "build", lambda: REGISTRY[item].fn(self.spark, self.star))
        self.call(tag, item, "sink", lambda: df.write.format("noop").mode("overwrite").save())
        return df

    def record_failure(self, item: str, why: str) -> None:
        self.failed += 1
        log(f"FAILED {item}: {why}")

    # passes --------------------------------------------------------------------------

    def check_tweets(self) -> None:
        """Check the artifacts the last timed pass wrote."""
        from checks import check_tweet_outputs

        for item, why in check_tweet_outputs(self.out, self.reference, self.seed_id).items():
            if item not in self.raised:
                self.record_failure(item, why)

    def check_pass(self) -> None:
        """Run every registry query once, untimed, and check its output."""
        order = self.rng.sample(self.items, len(self.items))
        from checks import check_query, oracle_connection
        from tvbigdataproject_spark.queries import REGISTRY
        from tvbigdataproject_spark.session import release_session_caches

        con = oracle_connection(self.star)
        try:
            for item in order:
                self.attempted += 1
                release_session_caches(self.spark)
                self.set_group(f"check|{item}")
                rq = REGISTRY[item]
                try:
                    df = rq.fn(self.spark, self.star)
                    if self.trace:
                        self.plan_sizes[item] = self.sum_plan_sizes([df])
                    why = check_query(con, rq, self.spark, self.star, [tuple(r) for r in df.collect()], df.columns)
                except Exception as exc:  # a failing query is a measured outcome
                    why = f"raised {exc!r}"
                if why:
                    self.record_failure(item, why)
        finally:
            con.close()

    @staticmethod
    def sum_plan_sizes(frames) -> tuple[int, int]:
        sizes = [plan_size(df) for df in frames]
        return sum(s[0] for s in sizes), sum(s[1] for s in sizes)

    def probe(self) -> float:
        self.set_group("probe")
        t0 = time.perf_counter()
        self.spark.range(2**22, numPartitions=4 * CPUS).selectExpr(
            "sum(pmod(xxhash64(id), 1048576)) as s"
        ).collect()
        return time.perf_counter() - t0

    def one_pass(self, tag: str) -> None:
        self.raised = set()
        for item in self.rng.sample(self.items, len(self.items)):
            self.attempted += 1
            try:
                built = self.run_item(tag, item)
                if self.trace and item not in self.plan_sizes:
                    self.plan_sizes[item] = self.sum_plan_sizes(_frames(built))
            except Exception:  # counted in failed; the pass goes on
                self.raised.add(item)
                self.record_failure(item, traceback.format_exc(limit=3))

    def timed_passes(self) -> None:
        """Passes until ``--seconds`` are used: another pass starts only
        if it would end nearer the deadline than stopping now would.
        The tweet export stops after its one cold pass."""
        start = time.perf_counter()
        n = 0
        last = 0.0
        self.loops += [loop_s() for _ in range(LOOPS)]
        while n == 0 or (not self.is_tweets and time.perf_counter() - start + last / 2 < self.args.seconds):
            tag = f"p{n}"
            t0 = time.perf_counter()
            cpu0 = tree_cpu_seconds(os.getpid())
            self.one_pass(tag)
            self.pass_cpu.append(tree_cpu_seconds(os.getpid()) - cpu0)
            self.probes.append(self.probe())
            last = time.perf_counter() - t0
            n += 1
        while len(self.probes) < MIN_PROBES:
            self.probes.append(self.probe())
        self.loops += [loop_s() for _ in range(LOOPS)]

    def run(self) -> None:
        self.setup()
        if not self.is_tweets:
            self.check_pass()
            # the check pass collects results; these passes also
            # compile the noop sink path
            for _ in range(WARM_PASSES):
                self.one_pass("warm")
        self.first_pass_at = time.perf_counter() - PROCESS_T0
        # peaks of the timed passes only: input generation, the DuckDB
        # oracle and the collected check results are harness costs
        for pid in (os.getpid(), self.jvm_pid):
            reset_peak_rss(pid)
        self.timed_passes()
        self.py_rss = peak_rss_mb(os.getpid())
        self.jvm_rss = peak_rss_mb(self.jvm_pid)
        if self.is_tweets:
            self.check_tweets()

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on EOF
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait(timeout=60)

    # metrics -------------------------------------------------------------------------

    def pass_times(self) -> list[float]:
        totals: dict[str, float] = defaultdict(float)
        for tag, _, _, t0, t1 in self.spans:
            if tag != "check":
                totals[tag] += t1 - t0
        return [totals[f"p{i}"] for i in range(len(self.pass_cpu))]

    def end_to_end(self) -> dict[str, float]:
        if self.is_tweets:
            host = LOOP_REF_S / statistics.median(self.loops)
        else:
            host = PROBE_REF_S / statistics.median(self.probes[1:])
        return {
            "pass_s": host * statistics.median(self.pass_times()),
            "cpu_s": host * statistics.median(self.pass_cpu),
            "setup_s": host * statistics.median(sum(r) for r in self.setup_rounds[1:]),
            "py_peak_rss_mb": self.py_rss,
        }

    def per_layer(self) -> dict[str, float]:
        from receipts import Receipt, covered_seconds, read_receipts

        receipts = read_receipts(self.eventlog)
        passes = [self.layers_of_pass(f"p{i}", receipts, Receipt, covered_seconds) for i in range(len(self.pass_cpu))]
        out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
        rounds = self.setup_rounds[1:]
        out.update(
            {
                "session.launch_s": self.setup_rounds[0][1],
                "session.inputs_s": statistics.median(r[0] for r in rounds),
                "session.start_s": statistics.median(r[1] for r in rounds),
                "session.warm_s": statistics.median(r[2] for r in rounds),
                "session.first_pass_at_s": self.first_pass_at,
                # the JVM's high-water mark follows its garbage collector
                # and varies by a third between runs, too much for a bound
                "jvm.peak_rss_mb": self.jvm_rss,
                "trace.passes": len(passes),
                "probe.cpu_s": statistics.median(self.probes),
                "host.loop_s": statistics.median(self.loops),
                "checks.failed_frac": self.failed / self.attempted,
            }
        )
        for k, v in self.end_to_end().items():
            out[f"trace.{k}"] = v
        self.log_items(receipts, Receipt)
        return out

    def layers_of_pass(self, tag, receipts, Receipt, covered_seconds) -> dict[str, float]:
        m: dict[str, float] = defaultdict(float)
        for name in ("word_cloud", "full_graph", "bi_report", "neighborhood"):
            m[f"plans.{name}_s"] = 0.0
        busy_all = 0.0
        zero = reads = 0
        skews: list[float] = []
        for t, item, phase, t0, t1 in self.spans:
            if t != tag:
                continue
            r = receipts.get(f"{t}|{item}|{phase}", Receipt())
            wall = t1 - t0
            busy = covered_seconds(r.job_spans, t0, t1)
            busy_all += busy
            if phase == "build":
                m["queries.build_s"] += wall
                m["queries.build_self_s"] += wall - busy
                m["queries.build_jobs"] += r.jobs
            else:
                m["sink.plan_s"] += wall - busy
                m["sink.exec_s"] += busy
                m["sink.jobs"] += r.jobs
                m["sink.stages"] += r.stages
                m["sink.tasks"] += r.tasks
                m["sources.write_s"] += wall if self.is_tweets else 0.0
            if self.is_tweets:
                m[f"plans.{item}_s"] += wall
            m["operators.shuffle_read_mb"] += r.shuffle_read_bytes / MB
            m["operators.shuffle_write_mb"] += r.shuffle_write_bytes / MB
            m["operators.spill_mb"] += r.spill_bytes / MB
            m["operators.result_mb"] += r.result_bytes / MB
            m["operators.task_cpu_s"] += r.executor_cpu_ns / 1e9
            m["operators.failed_tasks"] += r.failed_tasks
            m["sources.scan_mb"] += r.input_bytes / MB
            m["sources.write_mb"] += r.output_bytes / MB
            zero += r.zero_read_tasks
            reads += r.shuffle_read_tasks
            skews += r.stage_skews
        m["operators.core_util"] = m["operators.task_cpu_s"] / (busy_all * CPUS) if busy_all else 0.0
        m["operators.empty_task_frac"] = zero / reads if reads else 0.0
        m["operators.skew_max"] = max(skews, default=0.0)
        m["functions.plan_nodes"] = sum(self.plan_sizes[i][0] for i in self.items)
        m["functions.expr_nodes"] = sum(self.plan_sizes[i][1] for i in self.items)
        return m

    def log_items(self, receipts, Receipt) -> None:
        """Per-item job counts of the first timed pass, for cross-checks."""
        for item in self.items:
            b = receipts.get(f"p0|{item}|build", Receipt())
            s = receipts.get(f"p0|{item}|sink", Receipt())
            log(f"receipt {item}: build_jobs={b.jobs} sink_jobs={s.jobs} stages={b.stages + s.stages} "
                f"tasks={b.tasks + s.tasks} plan={self.plan_sizes.get(item)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tvbigdataproject_spark")):
        log(f"no tvbigdataproject_spark package under {ROOT}; run from a checkout of the repo")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench_spec = json.load(fh)
    if args.seconds is None:
        args.seconds = bench_spec["run_seconds"]
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    # the engine's own defaults, on every core of this box, with all
    # scratch files inside the checkout
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # Python workers import the engine too, whatever the cwd
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    tempfile.tempdir = None

    bench = Bench(args, work, WORKLOADS[args.workload])
    try:
        bench.run()
        bench.stop()
        values = bench.per_layer() if bench.trace else bench.end_to_end()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    key = "per_layer" if bench.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench_spec[key]}
    log(f"{len(bench.pass_cpu)} timed passes, pass_s samples {[round(x, 3) for x in bench.pass_times()]}, "
        f"probe_s {[round(x, 3) for x in bench.probes]}, loop_s {[round(x, 3) for x in bench.loops]}, "
        f"setup_s rounds {[round(sum(r), 3) for r in bench.setup_rounds]}, "
        f"cpu_s samples {[round(x, 2) for x in bench.pass_cpu]}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
